import threading

from kgbench import trace


class FakeSC:
    def __init__(self):
        self.props = threading.local()

    def setJobGroup(self, group, desc):
        self.props.group = group

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.props.group = value


def test_span_sets_and_restores_job_group():
    sc = FakeSC()
    t = trace.Tracer(sc)
    with t.span("pipeline"):
        assert sc.props.group == "pipeline"
        with t.span("extract"):
            assert sc.props.group == "extract"
        assert sc.props.group == "pipeline"
    assert sc.props.group is None
    a, b = t.spans
    assert b.parent == a.id and a.parent is None


def test_self_time_subtracts_union_of_children():
    S = trace.Span
    spans = [
        S(1, "pipeline", None, 0.0, 10.0),
        S(2, "link", 1, 1.0, 5.0),
        S(3, "cc", 1, 2.0, 6.0),  # overlaps link: 1..6 covered once
        S(4, "triples", 1, 7.0, 9.0),
        S(5, "inner", 2, 1.0, 2.0),
    ]
    got = trace.self_ms(spans)
    assert round(got[1]) == 3000  # 10 - (5 + 2)
    assert round(got[2]) == 3000 and round(got[5]) == 1000


def test_worker_thread_span_takes_explicit_parent():
    t = trace.Tracer(FakeSC())
    with t.span("pipeline") as top:
        th = threading.Thread(target=lambda: t.span("cc", parent=top).__enter__())
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    assert t.by_name("cc")[0].parent == top.id
