import threading

from spans import Recorder, Span


def _span(name, start, end, parent=None, sid=0):
    return Span(name, 0, sid, parent, start, end)


def test_covered_ms_merges_overlapping_children():
    root = _span("root", 0.0, 1.0)
    kids = [_span("a", 0.1, 0.4), _span("b", 0.3, 0.5), _span("c", 0.7, 0.8),
            _span("d", 0.9, 1.5)]
    # [0.1, 0.5] + [0.7, 0.8] + [0.9, 1.0] (clipped to the parent)
    assert abs(Recorder.covered_ms(root, kids) - 600.0) < 1e-6


def test_pool_thread_spans_attach_to_the_serving_threads_open_span():
    rec = Recorder()
    root = rec.root("stream.foreach", 3)
    inner = rec.open("pipeline.apply")

    def worker():
        s = rec.open("merge.merge")
        rec.close(s)

    t = threading.Thread(target=worker)
    t.start()
    t.join(10)
    assert not t.is_alive()
    rec.close(inner)
    rec.close_root(root)
    by_name = {s.name: s for s in rec.spans}
    assert by_name["merge.merge"].trace == 3
    assert by_name["merge.merge"].parent == inner.id
    assert by_name["pipeline.apply"].parent == root.id
    assert rec.trace is None


def test_wrap_records_and_uninstall_restores():
    class Target:
        def files(self):
            return ["x", "y"]

    rec = Recorder()
    original = Target.files
    rec.wrap(Target, "files", "l0_log.files", sized=True)
    assert Target().files() == ["x", "y"]
    assert [(s.name, s.n) for s in rec.spans] == [("l0_log.files", 2)]
    rec.uninstall()
    assert Target.files is original


def test_self_ms_subtracts_only_named_children():
    rec = Recorder()
    parent = _span("p", 0.0, 1.0, sid=1)
    a = _span("a", 0.0, 0.25, parent=1, sid=2)
    b = _span("b", 0.5, 0.75, parent=1, sid=3)
    kids = {1: [a, b]}
    assert abs(rec.self_ms(parent, kids) - 500.0) < 1e-6
    assert abs(rec.self_ms(parent, kids, only={"a"}) - 750.0) < 1e-6
