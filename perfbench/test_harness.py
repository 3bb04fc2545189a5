"""Unit tests of the benchmark's own helpers (no Spark needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import corpus_dedup  # noqa: E402
import export_mixed  # noqa: E402
import lakehouse_upsert  # noqa: E402
from harness import (  # noqa: E402
    Span,
    Tracer,
    percentile,
    self_times,
    tail_percentile,
    timing_summary,
    union_length,
)


def test_union_length_merges_overlaps_and_skips_empty():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 4), (1, 2), (3, 3)]) == 4.0
    assert union_length([(5, 6), (0, 1), (0.5, 5.5)]) == 6.0


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        Span(0, "root", 0.0, 10.0),
        # two concurrent children overlapping on [3, 4]
        Span(1, "a", 2.0, 4.0, parent=0),
        Span(2, "b", 3.0, 6.0, parent=0),
        # a child running past its parent counts only inside it
        Span(3, "c", 9.0, 12.0, parent=0),
        Span(4, "grandchild", 2.5, 3.5, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_nests_spans_and_inherits_request_id():
    tr = Tracer()
    with tr.span("outer", request="r1"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert inner.parent == outer.id and inner.request == "r1"
    assert outer.parent is None


def test_self_time_by_layer_skips_benchmark_root_spans():
    tr = Tracer()
    tr.spans = [
        Span(0, "client.request", 0.0, 10.0),
        Span(1, "http_service.handle_export", 1.0, 9.0, parent=0),
        Span(2, "api.DataExportRequest.parse", 1.0, 2.0, parent=1),
        Span(3, "http_service.export_trace_to_bytes", 2.0, 8.0, parent=1),
    ]
    assert tr.self_time_by_layer() == pytest.approx({"http_service": 7.0, "api": 1.0})


def test_tracer_wraps_and_restores_functions_and_classmethods():
    class Owner:
        @classmethod
        def parse(cls, x):
            return (cls, x)

    mod = type(sys)("fake_layer")
    mod.f = lambda x: x + 1
    tr = Tracer()
    tr.wrap(mod, "f", "layer.f")
    tr.wrap(Owner, "parse", "layer.parse")
    assert mod.f(1) == 2 and Owner.parse(3) == (Owner, 3)
    assert [s.name for s in tr.spans] == ["layer.f", "layer.parse"]
    tr.unwrap_all()
    mod.f(1)
    Owner.parse(1)
    assert len(tr.spans) == 2


@pytest.mark.parametrize(
    "n, pct", [(19, None), (20, 50), (30, 66), (100, 90), (1000, 99), (10_000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert tail_percentile(n) == pct
    if pct is not None:
        assert n * (100 - pct) / 100 >= 10


def test_timing_summary_reports_tail_only_with_enough_samples():
    few = timing_summary([0.001 * i for i in range(1, 11)])
    assert few["n"] == 10 and "tail_ms" not in few
    many = timing_summary([0.001 * i for i in range(1, 101)])
    assert many["tail_pct"] == 90
    assert many["tail_ms"] == pytest.approx(percentile([i for i in range(1, 101)], 90))
    assert many["p50_ms"] == pytest.approx(50.5)


def test_request_mix_is_deterministic_per_seed_and_differs_across_seeds():
    a = export_mixed.make_requests(5, 500)
    b = export_mixed.make_requests(5, 500)
    c = export_mixed.make_requests(6, 500)
    assert [(r.cls, r.params) for r in a] == [(r.cls, r.params) for r in b]
    assert [r.params for r in a] != [r.params for r in c]
    share = {k: sum(r.cls == k for r in a) / len(a) for k in ("small", "large", "error")}
    assert share == {"small": 0.85, "large": 0.10, "error": 0.05}
    # any 20 consecutive requests carry the whole mix
    assert sorted(r.cls for r in a[7:27]) == sorted(export_mixed.BLOCK)


def test_lake_plan_is_deterministic_and_inserts_past_the_max_key():
    a = lakehouse_upsert.generate(3, "")
    assert a.digest() == lakehouse_upsert.generate(3, "").digest()
    assert a.digest() != lakehouse_upsert.generate(4, "").digest()
    first = a.cycles[0].merge_keys
    assert first.max() > lakehouse_upsert.N_KEYS - 1


def test_trace_table_and_warmup_stream_are_deterministic_per_seed():
    a = export_mixed.generate(5, "")
    assert a.digest() == export_mixed.generate(5, "").digest()
    assert a.table.digest() != export_mixed.make_table(6).digest()


def test_corpus_is_deterministic_per_seed(tmp_path):
    a = corpus_dedup.generate(5, str(tmp_path / "a"))
    assert a.digest() == corpus_dedup.generate(5, str(tmp_path / "b")).digest()
    assert a.digest() != corpus_dedup.generate(6, str(tmp_path / "c")).digest()
    assert a.sizes["documents"] == corpus_dedup.DOCS
