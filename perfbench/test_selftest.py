"""Self-tests of the benchmark's own logic; none starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import re

import pytest

from perfbench import expect, gen, run
from perfbench.trace import Tracer, self_times, union_ms


def test_generator_is_deterministic_per_seed():
    assert gen.drain_links(7) == gen.drain_links(7) != gen.drain_links(8)
    ev = gen.events(7, 500)
    assert ev.equals(gen.events(7, 500)) and not ev.equals(gen.events(8, 500))
    assert gen.qi_rows(ev).equals(gen.qi_rows(gen.events(7, 500)))
    assert gen.file_split(7, 1000) == gen.file_split(7, 1000)


def test_events_follow_the_measured_sf01_shape():
    ev = gen.events(1).to_pydict()
    n = len(ev["event_id"])
    assert n == gen.EVENT_ROWS
    assert ev["event_id"] == list(range(n)) and ev["ts"] == sorted(ev["ts"])
    span_s = (ev["ts"][-1] - gen.T0).total_seconds()
    assert span_s / n == pytest.approx(gen.EVENT_GAP_MEAN_S, rel=0.02)
    assert sum(ev["value"]) / n == pytest.approx(gen.EVENT_VALUE_MEAN, rel=0.02)
    assert sum(v > 100 for v in ev["value"]) / n == pytest.approx(0.134, abs=0.01)
    for t in gen.EVENT_TYPES:
        assert ev["event_type"].count(t) / n == pytest.approx(0.2, abs=0.01)
    assert set(ev["user_id"]) == set(range(gen.EVENT_USERS))
    assert set(ev["props"]) == {f'{{"k": {k}}}' for k in range(100)}


def test_qi_projection_matches_its_python_spelling():
    ev = gen.events(3, 2000).to_pylist()
    qi = gen.qi_rows(gen.events(3, 2000)).to_pylist()
    assert qi == [
        {"event_type": e["event_type"], "hour": e["ts"].hour,
         "value_bin": math.floor(e["value"] / 10), "event_id": e["event_id"]}
        for e in ev
    ]


def test_drain_mix_is_fixed_and_covers_every_class():
    for seed in range(20):
        links = gen.drain_links(seed)
        assert sorted(k["cls"] for k in links) == sorted(gen.DRAIN_CLASSES)
        assert len({k["row_index"] for k in links}) == len(links)
        assert all(k["id"] >= 10_000 for k in links)
        assert all(expect.classify(k["url"]) == k["cls"] for k in links)
    # one parse batch and one notes batch at batch size 12
    assert len(gen.DRAIN_CLASSES) == 12


def test_file_split_is_seeded_and_near_even():
    bounds = gen.file_split(3, 12_000)
    assert bounds[0] == 0 and bounds[-1] == 12_000
    assert len(bounds) == gen.STREAM_FILES + 1
    size = 12_000 // gen.STREAM_FILES
    assert all(0.8 * size <= b - a <= 1.2 * size for a, b in zip(bounds, bounds[1:]))
    assert bounds != gen.file_split(4, 12_000)


def _grammar_urls() -> list[str]:
    """Example URLs of every line of the fake clients' URL grammar."""
    from joblink_etl_spark.clients import fakes

    subst = {"<slug>": "acme-corp", "<id>": "4242", "<i>": "7"}
    urls = []
    for line in fakes.__doc__.splitlines():
        m = re.search(r"https://\S+", line)
        if m:
            url = m.group(0)
            for k, v in subst.items():
                url = url.replace(k, v)
            urls.append(url)
    return urls


def test_expected_table_covers_the_fakes_grammar():
    from joblink_etl_spark.clients import fakes

    grammar = {expect.classify(u) for u in _grammar_urls()}
    assert "other" not in grammar
    # two classes live outside the docstring grammar: the throwing
    # HTTP client's /raise/ and the LLM fake's FAIL-LLM marker
    src = open(fakes.__file__).read()
    assert '"/raise/"' in src and '"FAIL-LLM"' in src
    assert grammar | {"raise", "fail_llm"} == set(expect.URL_CLASSES)
    assert set(expect.EXPECTED_CALLS) == set(expect.URL_CLASSES)
    for cls in expect.URL_CLASSES:
        url = expect.make_url(cls, 4242, "acme-corp", 7)
        assert expect.classify(url) == cls
        link = {"cls": cls, "id": 4242, "slug": "acme-corp", "url": url, "row_index": 2}
        assert expect.expected_row(link)["status"] in ("ok", "error")


def _right_row(link: dict) -> dict:
    want = expect.expected_row(link)
    company, role = want["company_auto"], want["role_auto"]
    notes = {
        None: ("", ""),
        "llm": (f"Hi! I applied for {role} at {company} — would love to connect.",
                "Thanks for connecting! ..."),
        "template": (f"Hi there — I applied for {role} at {company}. I'm a builder.", "x"),
    }[want["notes"]]
    return {"row_index": link["row_index"], **want, "li_invite": notes[0], "li_followup": notes[1]}


def test_checks_pass_right_outputs_and_count_corrupted_ones():
    links = gen.drain_links(1)
    rows = [_right_row(k) for k in links]
    attempted, failed, errs = expect.check_drain(links, rows, 0, 0)
    assert (attempted, failed, errs) == (len(links) + 3, 0, [])

    wrong = [dict(r) for r in rows]
    ok_row = next(r for r in wrong if r["status"] == "ok")
    ok_row["company_auto"] = "Wrong Co"
    assert expect.check_drain(links, wrong, 0, 0)[1] == 1
    assert expect.check_drain(links, rows[1:], 0, 0)[1] == 1
    assert expect.check_drain(links, rows + rows[:1], 0, 0)[1] == 1
    assert expect.check_drain(links, rows, 1, 0)[1] == 1

    calls = {}
    for k in links:
        for kind, n in expect.EXPECTED_CALLS[k["cls"]].items():
            if n:
                calls[(kind, k["cls"])] = calls.get((kind, k["cls"]), 0) + 2 * n
    assert expect.check_calls(links, calls, 2)[1] == 0
    calls[("http", "lever")] += 1  # one re-fired fetch
    assert expect.check_calls(links, calls, 2)[1] == 1

    import pyarrow as pa

    got = pa.table({"k": [1, 2, 3, 3], "v": ["a", "b", "c", "c"]})
    assert expect.table_mismatch(got, got.select(["v", "k"]).take([3, 1, 0, 2])) == 0
    assert expect.table_mismatch(got.slice(0, 3), got) == 1
    assert expect.table_mismatch(got, got.set_column(1, "v", pa.array(["a", "b", "c", "x"]))) == 1
    # an oracle int column read back as text is a type mismatch
    as_text = got.set_column(0, "k", pa.array(["1", "2", "3", "3"]))
    assert expect.table_mismatch(as_text, got) == 4


def _span(i, parent, start, end, name="s"):
    return {"id": i, "name": name, "parent": parent, "start": start, "end": end}


def test_self_time_on_a_synthetic_span_tree():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),  # overlaps its sibling
        _span(4, 2, 2.0, 3.0),
        _span(5, 1, 9.0, 12.0),  # runs past its parent's end
        _span(6, None, 20.0, 21.0),
    ]
    got = self_times(spans)
    assert got == pytest.approx({1: 4.0, 2: 2.0, 3: 3.0, 4: 1.0, 5: 3.0, 6: 1.0})
    assert union_ms([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_ms([(0, 2), (5, 8)], 1, 6) == 2


class _StubSc:
    """Just enough of a SparkContext for spans without Spark jobs."""

    class _Tracker:
        def getJobIdsForGroup(self, group):
            return []

    class _Jsc:
        def sc(self):
            return type("Sc", (), {"statusStore": lambda self: None})()

    _jsc = _Jsc()

    def setJobGroup(self, group, description):
        pass

    def statusTracker(self):
        return self._Tracker()


class _StubDrain:
    links = gen.drain_links(1)

    def client_calls(self):
        return {"http": 27, "render": 9, "llm": 18}


def _config_names(kind: str) -> set[str]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


def test_printed_metric_names_are_the_configured_ones(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    ops = [{"wall_s": 2.0, "items": 12, "batch_ms": [500.0, 700.0, 600.0]}]
    e2e = run.end_to_end_metrics(ops, 9.5)
    assert set(e2e) == _config_names("end_to_end")
    assert e2e["items_per_s"] == 6.0 and e2e["batch_ms_p50"] == 600.0
    run.with_units(e2e, "end_to_end")

    tracer = Tracer(_StubSc(), "t")
    tracer.op = 1
    with tracer.span("drain"):
        with tracer.span("parse_batch"):
            with tracer.span("fetch"):
                pass
    layers = run.layer_metrics(_StubDrain(), tracer, _StubSc(), ops, [], 5.0, 1200.0)
    assert set(layers) == _config_names("per_layer")
    assert layers["clients.calls_per_link"] == 54 / 12
    assert layers["drain.cycles"] == 1
    run.with_units(layers, "per_layer")
