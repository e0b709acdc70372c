"""Tests of the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import measure  # noqa: E402

# --------------------------------------------------------------------------
# percentile rule


def test_percentile_is_nearest_rank_when_the_tail_is_deep_enough():
    xs = list(range(1, 101))  # 100 samples: p90 leaves exactly 10 above
    assert measure.percentile(xs, 0.9) == (90, 0.9)
    assert measure.percentile(xs, 0.5) == (50, 0.5)


def test_percentile_lowers_to_the_highest_with_ten_samples_beyond():
    xs = list(range(1, 31))  # 30 samples: p90 would leave only 3 above
    value, q = measure.percentile(xs, 0.9)
    assert value == 20 and q == pytest.approx(20 / 30)
    assert sum(x > value for x in xs) == 10
    # the median of 30 already has 15 above it and is kept
    assert measure.percentile(xs, 0.5) == (15, 0.5)


def test_percentile_ignores_input_order_and_floors_at_the_minimum():
    assert measure.percentile([5, 1, 4, 2, 3], 0.9) == (1, 0.2)
    with pytest.raises(ValueError):
        measure.percentile([], 0.5)


# --------------------------------------------------------------------------
# spans and self time


def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 5.0, 9.0),
        _span(4, 3, 6.0, 8.0),
    ]
    own = measure.self_times(spans)
    assert own == {1: pytest.approx(3.0), 2: 3.0, 3: pytest.approx(2.0), 4: 2.0}
    # self times of a tree add up to the root's span
    assert sum(own.values()) == pytest.approx(10.0)


def test_tracer_records_nesting_tags_and_can_be_disabled(tmp_path):
    t = measure.Tracer("run-1")
    t.tags["phase"] = "open"
    with t.span("batch", batch_id=3):
        with t.span("sink"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["trace_id"] == inner["trace_id"] == "run-1"
    assert outer["batch_id"] == 3 and inner["phase"] == "open"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    t.dump(str(tmp_path / "t" / "spans.json"))
    assert len(json.loads((tmp_path / "t" / "spans.json").read_text())) == 2

    off = measure.Tracer("run-2", enabled=False)
    with off.span("batch") as rec:
        assert rec is None
    assert off.spans == []


# --------------------------------------------------------------------------
# checkpoint logs → per-file latency


def _entry(name, batch):
    return json.dumps(
        {"path": f"file:///spool/{name}", "timestamp": 0, "batchId": batch, "action": "add"}
    )


def _checkpoint(tmp_path, commits: dict[int, float]):
    """Source ids 0-2 hold files a-d (e only in a temp file).  Batch 1
    only advanced the watermark, so the source offset stays at 0 and
    the files of source id 1 are read by batch 2."""
    src = tmp_path / "ckpt" / "sources" / "0"
    src.mkdir(parents=True)
    # ids 0-1 folded into a compact file, id 2 a plain delta, and a
    # half-written temp file that must be ignored
    (src / "1.compact").write_text(
        "v1\n" + "\n".join([_entry("a", 0), _entry("b", 1), _entry("c", 1)]) + "\n"
    )
    (src / "2").write_text("v1\n" + _entry("d", 2) + "\n")
    (src / ".3.tmp").write_text("v1\n" + _entry("e", 3) + "\n")
    off = tmp_path / "ckpt" / "offsets"
    off.mkdir()
    for batch, end in {0: 0, 1: 0, 2: 1, 3: 2}.items():
        (off / str(batch)).write_text(
            'v1\n{"batchWatermarkMs":0,"batchTimestampMs":0}\n'
            + json.dumps({"logOffset": end}) + "\n"
        )
    com = tmp_path / "ckpt" / "commits"
    com.mkdir()
    for b, t in commits.items():
        (com / str(b)).write_text('v1\n{"nextBatchWatermarkMs":0}\n')
        os.utime(com / str(b), (t, t))
    return str(tmp_path / "ckpt")


def test_source_log_ids_are_source_offsets(tmp_path):
    ckpt = _checkpoint(tmp_path, {})
    assert measure.source_ids(ckpt) == {"a": 0, "b": 1, "c": 1, "d": 2}
    assert measure.end_offsets(ckpt) == {0: 0, 1: 0, 2: 1, 3: 2}


def test_files_map_to_the_first_batch_reaching_their_offset(tmp_path):
    ckpt = _checkpoint(tmp_path, {})
    assert measure.file_batches(ckpt) == {"a": 0, "b": 2, "c": 2, "d": 3}


def test_latency_runs_from_due_time_to_the_consuming_batch_commit(tmp_path):
    ckpt = _checkpoint(tmp_path, {0: 1000.5, 1: 1000.9, 2: 1002.0})
    due = {"a": 1000.0, "b": 1000.75, "c": 1001.5, "d": 1002.25, "e": 1003.0}
    lat, missing = measure.file_latencies(ckpt, due)
    assert lat == pytest.approx({"a": 0.5, "b": 1.25, "c": 0.5})
    # d was read by batch 3, which never committed; e was never read
    assert sorted(missing) == ["d", "e"]


# --------------------------------------------------------------------------
# event log


def test_event_log_groups_stages_and_measures_the_driver_gap(tmp_path):
    def task(stage, written):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": written}},
        }

    def stage(sid, tasks, start, end):
        return {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": sid,
                "Number of Tasks": tasks,
                "Submission Time": start * 1000,
                "Completion Time": end * 1000,
            },
        }

    events = [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 0,
            "Submission Time": 100_000,
            "Stage Infos": [{"Stage ID": 0}, {"Stage ID": 1}, {"Stage ID": 9}],
            "Properties": {"spark.jobGroup.id": "q#0"},
        },
        task(0, 100),
        task(0, 50),
        stage(0, 4, 101.0, 103.0),
        task(1, 0),
        stage(1, 1, 102.0, 105.0),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 105_000},
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 1,
            "Submission Time": 105_000,
            "Stage Infos": [],
            "Properties": {},
        },
    ]
    d = tmp_path / "eventlog_v2_app" / "events_1_app"
    d.parent.mkdir()
    d.write_text("\n".join(json.dumps(e) for e in events) + "\n")

    log = measure.read_event_log(str(tmp_path))
    groups = measure.group_jobs(log, lambda p: p.get("spark.jobGroup.id"))
    # stage 9 was skipped (never completed) and the ungrouped job dropped
    assert list(groups) == ["q#0"] and groups["q#0"]["stages"] == {0, 1}
    st = measure.stage_stats(log, groups["q#0"]["stages"], 100.0, 106.0)
    assert st["stages"] == 2 and st["tasks"] == 5
    assert st["shuffle_bytes"] == 150
    # 3 s of 5 stage-seconds ran in the single-task stage
    assert st["single_task_frac"] == pytest.approx(3 / 5)
    # stages cover 101-105 of the 100-106 wall: 2 s with no stage running
    assert st["driver_gap_s"] == pytest.approx(2.0)


# --------------------------------------------------------------------------
# generator determinism


def _file_bytes(paths):
    return [open(p, "rb").read() for p in paths]


def test_event_files_are_a_function_of_the_seed(tmp_path):
    a = gen.write_event_files(gen.event_files(7, 3, 200), str(tmp_path / "a"), "ev")
    b = gen.write_event_files(gen.event_files(7, 3, 200), str(tmp_path / "b"), "ev")
    c = gen.write_event_files(gen.event_files(8, 3, 200), str(tmp_path / "c"), "ev")
    assert _file_bytes(a) == _file_bytes(b)
    assert _file_bytes(a) != _file_bytes(c)


def test_event_files_advance_in_event_time_within_the_watermark():
    files = gen.event_files(3, 4, 500)
    late_limit = gen.LATE_MAX_MIN * 60
    prev_max = None
    for i, t in enumerate(files):
        ts = t.column("ts").to_pylist()
        ids = t.column("event_id").to_pylist()
        assert ids == list(range(i * 500, (i + 1) * 500))
        if prev_max is not None:
            # out-of-order rows reach back at most LATE_MAX_MIN, far
            # inside the stream's 30-minute watermark
            assert (prev_max - min(ts)).total_seconds() <= late_limit
            assert max(ts) > prev_max
        prev_max = max(ts)


def test_fixture_is_deterministic_and_has_the_reference_schemas(tmp_path):
    gen.write_fixture(str(tmp_path / "a"))
    gen.write_fixture(str(tmp_path / "b"))
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(f"{t}.parquet" for t in gen.TABLES)
    assert _file_bytes(
        [str(tmp_path / "a" / n) for n in names]
    ) == _file_bytes([str(tmp_path / "b" / n) for n in names])
    import pyarrow.parquet as pq

    li = pq.read_schema(str(tmp_path / "a" / "lineitem.parquet"))
    assert str(li.field("l_shipdate").type) == "timestamp[us]"
    assert str(li.field("l_linenumber").type) == "int32"


def test_late_event_file_lies_behind_the_stream_watermark():
    first = gen.event_files(5, 1, 100)[0]
    late = gen.late_event_file(5)
    gap = min(first.column("ts").to_pylist()) - max(late.column("ts").to_pylist())
    # the stream's watermark trails its newest row by 30 minutes
    assert gap.total_seconds() > 30 * 60 + gen.LATE_MAX_MIN * 60
    assert set(late.column("event_id").to_pylist()).isdisjoint(
        first.column("event_id").to_pylist()
    )


def _texts(table):
    return dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))


def test_ingest_batches_are_a_function_of_the_seed_and_record_their_truth():
    a, b, c = (gen.ingest_batches(s) for s in (4, 4, 5))
    assert [t.equals(u) for t, u in zip(a["batches"], b["batches"])] == [True, True]
    assert a["truth"] == b["truth"]
    assert not a["batches"][0].equals(c["batches"][0])
    bench = list(_texts(a["benchmark"]).values())
    seen = set()
    for i, table in enumerate(a["batches"]):
        text, truth = _texts(table), a["truth"][i]
        assert table.num_rows == gen.INGEST_DOCS and len(set(text)) == gen.INGEST_DOCS
        # exactly the recorded short texts fail the 60-character gate
        assert {d for d, t in text.items() if len(t) < 60} == truth["short"]
        # exactly the recorded duplicates repeat an earlier batch's text
        assert {d for d, t in text.items() if t in seen} == truth["dups"]
        assert len(truth["dups"]) == (0 if i == 0 else gen.INJECT)
        contaminated = [
            d for d, t in text.items() if max(gen.jaccard(t, x) for x in bench) >= 0.8
        ]
        assert len(contaminated) >= gen.INJECT
        seen |= {t for d, t in text.items() if d not in truth["short"]}


def test_jaccard_uses_distinct_word_trigrams():
    assert gen.jaccard("a b c d", "a b c d") == 1.0
    # {abc, bcd} against {abc, bce}
    assert gen.jaccard("a b c d", "a b c e") == pytest.approx(1 / 3)
    assert gen.jaccard("a b", "a b") == 1.0


def test_graph_documents_hold_near_duplicate_families():
    docs = gen.graph_documents()
    assert docs.equals(gen.graph_documents())
    texts = docs.column("text").to_pylist()
    pairs = sum(
        gen.jaccard(texts[i], texts[i + 1]) >= 0.8 for i in range(len(texts) - 1)
    )
    assert pairs >= gen.GRAPH_FAMILIES


# --------------------------------------------------------------------------
# ingest screen spans


def test_screen_factories_are_timed_inside_the_block_and_restored_after(monkeypatch):
    import importlib

    import curation_ingest

    calls = []
    for name, (mod_name, attr) in curation_ingest.SCREENS.items():
        mod = importlib.import_module(mod_name)
        monkeypatch.setattr(
            mod, attr, lambda *a, _n=name, **k: (lambda df, b, _n=_n: calls.append((_n, b)))
        )
    fakes = {
        n: getattr(importlib.import_module(m), a)
        for n, (m, a) in curation_ingest.SCREENS.items()
    }
    t = measure.Tracer("ingest")
    with curation_ingest._traced_screens(t):
        with t.span("ingest.batch"):
            for name, (mod_name, attr) in curation_ingest.SCREENS.items():
                getattr(importlib.import_module(mod_name), attr)("cfg")(None, 7)
    assert calls == [(n, 7) for n in curation_ingest.SCREENS]
    batch, *screens = t.spans
    assert [s["name"] for s in screens] == [f"ingest.{n}" for n in curation_ingest.SCREENS]
    assert all(s["parent"] == batch["id"] for s in screens)
    for name, (mod_name, attr) in curation_ingest.SCREENS.items():
        assert getattr(importlib.import_module(mod_name), attr) is fakes[name]
