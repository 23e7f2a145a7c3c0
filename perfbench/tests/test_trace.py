import json

from perfbench import trace
from perfbench.trace import Recorder, event_log_metrics


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 1.0
        return self.t


def test_op_records_time_and_turns_an_error_into_data():
    rec = Recorder(traced=False, clock=FakeClock())
    with rec.op("query") as ok:
        pass
    with rec.op("query") as bad:
        raise RuntimeError("boom")
    assert ok["seconds"] == 1.0 and ok["error"] is None
    assert bad["error"] == "RuntimeError: boom"
    assert [o["id"] for o in rec.ops] == [0, 1]


def test_spans_nest_under_their_op_only_when_on():
    rec = Recorder(traced=True, clock=FakeClock())
    rec.spans_on = True
    with rec.op("query") as op:
        with rec.span("search.executor.search"):
            with rec.span("index.segments.term_stats"):
                pass
        with rec.span("search.executor.execute"):
            pass
    rec.spans_on = False
    with rec.op("query"):
        with rec.span("search.executor.search"):
            pass
    names = [(s["name"], s["parent"], s["op"]) for s in rec.spans]
    assert names == [
        ("search.executor.search", None, 0),
        ("index.segments.term_stats", 0, 0),
        ("search.executor.execute", None, 0),
    ]
    assert op["traced"] and not rec.ops[1]["traced"]
    assert len(op["groups"]) == 4  # the op's group and one per span


def test_patching_wraps_entry_points_and_restores_them():
    from lucene_solr_spark.search import qparser
    from lucene_solr_spark.search.executor import Searcher

    before = (qparser.parse_lucene, Searcher.__dict__["search"])
    rec = Recorder(traced=True, clock=FakeClock())
    rec.patch_entry_points()
    try:
        assert qparser.parse_lucene is not before[0]
        rec.spans_on = True
        with rec.op("parse"):
            qparser.parse_edismax("error cache", mm=1)
        assert [s["name"] for s in rec.spans] == [
            "search.qparser.parse_edismax", "search.qparser.parse_lucene"]
        assert rec.spans[1]["parent"] == rec.spans[0]["id"]
    finally:
        rec.unpatch()
    assert (qparser.parse_lucene, Searcher.__dict__["search"]) == before


def test_write_spans_emits_one_json_object_per_span(tmp_path):
    rec = Recorder(traced=True, clock=FakeClock())
    rec.spans_on = True
    with rec.op("x"):
        with rec.span("a.b"):
            pass
    path = tmp_path / "spans.jsonl"
    rec.write_spans(str(path))
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert rows == [{"id": 0, "name": "a.b", "start": 2.0, "end": 3.0,
                     "parent": None, "op": 0}]


def test_event_log_metrics_sum_task_metrics_per_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 7, "JVM GC Time": 2,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 1,
            "Input Metrics": {"Records Read": 10},
            "Shuffle Read Metrics": {"Total Records Read": 3}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 3}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 50}},
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    (d / "appstatus_local-1").write_text("")
    assert event_log_metrics(str(tmp_path)) == {"g1": {
        "executor_run_ms": 10.0, "gc_ms": 2.0, "shuffle_write_bytes": 100.0,
        "spill_bytes": 6.0, "records_read": 13.0}}


def test_descendants_walks_the_process_tree(monkeypatch):
    monkeypatch.setattr(trace, "_children", lambda: {1: [2, 3], 3: [4]})
    assert sorted(trace.descendants(1)) == [2, 3, 4]


def test_overhead_compares_traced_and_untraced_ops_of_the_same_pair():
    from perfbench.run import _overhead

    # pair 1 is slower than pair 0 for both halves; tracing adds 10 %
    traced = [{"pair": 0, "seconds": 1.1}, {"pair": 1, "seconds": 2.2}]
    plain = [{"pair": 0, "seconds": 1.0}, {"pair": 1, "seconds": 2.0}]
    assert abs(_overhead(traced, plain) - 0.1) < 1e-9
    # a pair seen on one side only does not enter the ratio
    assert abs(_overhead(traced + [{"pair": 2, "seconds": 9.0}], plain) - 0.1) < 1e-9
    # a read's second run takes half the time of its first; run first with
    # spans in pair 0 and without in pair 1, the order effect cancels
    traced = [{"pair": 0, "seconds": 1.1}, {"pair": 1, "seconds": 0.55}]
    plain = [{"pair": 0, "seconds": 0.5}, {"pair": 1, "seconds": 1.0}]
    assert abs(_overhead(traced, plain) - 0.1) < 1e-9


def test_peak_rss_window_counts_the_driver_above_its_start(monkeypatch):
    kb = {("self", "VmRSS"): 100 * 1024, ("self", "VmHWM"): 130 * 1024,
          (7, "VmHWM"): 500 * 1024, (8, "VmHWM"): 50 * 1024}
    monkeypatch.setattr(trace, "_status_kb", lambda pid, f: kb[(pid, f)])
    monkeypatch.setattr(trace, "descendants", lambda pid: [7, 8])
    monkeypatch.setattr(trace, "_is_jvm", lambda pid: pid == 7)
    monkeypatch.setattr("builtins.open", lambda *a, **k: (_ for _ in ()).throw(OSError()))
    rss = trace.PeakRss()
    rss.start()
    rss.stop()
    assert rss.result == {"driver": 30.0, "jvm": 500.0, "workers": 50.0,
                          "driver_base": 100.0, "total": 580.0}


def test_span_modes_pair_each_traced_read_with_an_untraced_one():
    from types import SimpleNamespace

    from perfbench.workloads import Ctx, span_modes

    def ctx(traced):
        return Ctx(spark=None, rec=SimpleNamespace(traced=traced), workdir="",
                   seed=0, seconds=0.0)

    assert span_modes(ctx(False), 0) == (False,)
    assert span_modes(ctx(False), 1) == (False,)
    assert span_modes(ctx(True), 0) == (True, False)
    assert span_modes(ctx(True), 1) == (False, True)
