import pytest

from perfbench.trace import layer_of, self_times


def span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent,
            "request": "w/1/q"}


def check_sums(spans, st):
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)

    def subtree(s):
        return st[s["id"]] + sum(subtree(c) for c in by_parent.get(s["id"], []))

    for root in by_parent[None]:
        assert subtree(root) == pytest.approx(root["end"] - root["start"])


def test_nested_children_are_subtracted():
    spans = [span(0, "query", 0, 10), span(1, "build", 0, 4, 0), span(2, "action", 4, 9, 0),
             span(3, "pin:x", 1, 3, 1), span(4, "job:1", 5, 8, 2)]
    st = self_times(spans)
    assert st == pytest.approx({0: 1.0, 1: 2.0, 2: 2.0, 3: 2.0, 4: 3.0})
    check_sums(spans, st)


def test_overlapping_siblings_go_to_the_later_start():
    # Two concurrent stages of one job: 2..6 and 4..8.
    spans = [span(0, "job:1", 0, 10), span(1, "stage:1", 2, 6, 0), span(2, "stage:2", 4, 8, 0)]
    st = self_times(spans)
    assert st == pytest.approx({0: 4.0, 1: 2.0, 2: 4.0})
    check_sums(spans, st)


def test_children_are_clipped_to_their_parent():
    # A job whose JVM timestamps stick out of the Python-side span.
    spans = [span(0, "action", 1, 5), span(1, "job:1", 0, 3, 0), span(2, "stage:1", 2.5, 6, 1)]
    st = self_times(spans)
    assert st == pytest.approx({0: 2.0, 1: 1.5, 2: 0.5})
    check_sums(spans, st)


def test_grandchild_only_gets_time_its_parent_received():
    # stage:2 starts later and takes 4..8, so stage:1's child 3..7 keeps 3..4.
    spans = [span(0, "job:1", 0, 10), span(1, "stage:1", 2, 6, 0), span(2, "stage:2", 4, 8, 0),
             span(3, "batch:0", 3, 7, 1)]
    st = self_times(spans)
    assert st[3] == pytest.approx(1.0)
    assert st[1] == pytest.approx(1.0)
    check_sums(spans, st)


def test_orphans_are_roots():
    spans = [span(0, "query", 0, 2), span(1, "build", 0, 1, 0), span(2, "job:7", 5, 6, 99)]
    st = self_times(spans)
    assert st == pytest.approx({0: 1.0, 1: 1.0, 2: 1.0})


def test_layer_names_follow_the_modules():
    assert [layer_of(n) for n in ("build", "pin:graph.library:pagerank", "stream:q",
                                  "batch:3", "catalyst:planning", "stage:4")] == [
        "dsl", "pins", "streaming", "streaming", "catalyst", "executor"]
