"""Tests of the benchmark's own helpers (no JVM): python -m pytest perfbench"""

from __future__ import annotations

import os
import statistics
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import benchlib as B  # noqa: E402
import operators_probe as OP  # noqa: E402


# -- seeds ---------------------------------------------------------------------

def test_seed_range_is_deterministic():
    assert B.seed_range(3, 500, 1000) == B.seed_range(3, 500, 1000)
    assert list(B.seed_range(3, 2, 5)) == [3 * B.SEED_STRIDE + 5,
                                           3 * B.SEED_STRIDE + 6]


def test_seed_ranges_do_not_overlap():
    n = 4000
    seen: set[int] = set()
    for seed in range(0, 25):
        r = set(B.seed_range(seed, n)) | set(
            B.seed_range(seed, n, B.SEED_STRIDE - n))   # the block's far end
        assert not r & seen
        seen |= r


def test_seed_range_rejects_leaving_the_block():
    with pytest.raises(ValueError):
        B.seed_range(-1, 10)
    with pytest.raises(ValueError):
        B.seed_range(0, 10, B.SEED_STRIDE - 5)


# -- statistics ----------------------------------------------------------------

def test_median():
    assert B.median([3.0, 1.0, 2.0]) == 2.0
    assert B.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        B.median([])


def test_iqr_share_uses_statistics_quartiles():
    v = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    assert B.iqr_share(v) == pytest.approx((q3 - q1) / q2)
    assert B.iqr_share([2.0] * 10) == 0.0


# -- spans ---------------------------------------------------------------------

def _span(i, parent, start, end, name="s"):
    return {"id": i, "name": name, "parent": parent, "start": start,
            "end": end, "run_id": "r"}


def test_self_time_is_parent_minus_children():
    spans = [_span(0, None, 0.0, 10.0, "root"),
             _span(1, 0, 1.0, 3.0, "a"),
             _span(2, 0, 5.0, 9.0, "b"),
             _span(3, 2, 6.0, 7.0, "c")]
    st = B.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 2.0 - 4.0)
    assert st[2] == pytest.approx(4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert B.self_time_by_name(spans)["root"] == pytest.approx(4.0)


def test_self_time_merges_overlapping_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 5.0),
             _span(2, 0, 4.0, 6.0), _span(3, 0, 9.0, 12.0)]
    # children cover [1, 6] and [9, 10] of the parent's interval
    assert B.self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_tracer_nests_and_disables():
    tr = B.Tracer(True, run_id="x")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s["name"], s["parent"], s["run_id"]) for s in tr.spans] == [
        ("outer", None, "x"), ("inner", 0, "x")]
    assert all(s["end"] >= s["start"] for s in tr.spans)
    off = B.Tracer(False)
    with off.span("outer") as rec:
        time.sleep(0.01)
    assert off.spans == []
    assert B.seconds(rec) >= 0.01


# -- output checks -------------------------------------------------------------

def _out(seq, kind, text, media_ref="", offset=0):
    return {"seq": seq, "kind": kind, "text": text, "media_ref": media_ref,
            "offset": offset}


def test_matching_output_has_no_failures():
    spans = [_out(0, "text", "a"), _out(1, "cell", "b", offset=1)]
    o = B.Outcome()
    o.check_docs(expected_docs=10, rows=10, with_errors=0)
    o.check_spans({"d1": B.span_tuples(spans)}, [("d1", spans)])
    assert (o.attempted, o.failed, o.failed_frac) == (10, 0, 0.0)


def test_injected_span_mismatch_makes_failed_frac_positive():
    spans = [_out(0, "text", "a"), _out(1, "cell", "b", offset=1)]
    tampered = [dict(s) for s in spans]
    tampered[1]["text"] = "B"
    o = B.Outcome()
    o.check_docs(expected_docs=10, rows=10, with_errors=0)
    o.check_spans({"d1": B.span_tuples(spans)}, [("d1", tampered)])
    assert o.failed == 1
    assert o.failed_frac == pytest.approx(0.1)


def test_missing_docs_errors_and_wrong_values_count_as_failed():
    o = B.Outcome()
    o.check_docs(expected_docs=10, rows=8, with_errors=1)
    o.check_value("lines", 3, 4)
    assert (o.attempted, o.failed) == (11, 4)   # 2 missing, 1 error, 1 value
    assert B.Outcome().failed_frac == 1.0   # nothing attempted is a failure


# -- operator leaves -------------------------------------------------------------

def test_leaf_digest_is_order_free_and_rounds_floats():
    rows = [(1, "a", 0.1 + 0.2), (2, "b", [1.0, 2.0])]
    assert OP.digest(rows) == OP.digest(list(reversed(rows)))
    assert OP.digest(rows) == OP.digest([(1, "a", 0.3), (2, "b", [1.0, 2.0])])
    assert OP.digest(rows) != OP.digest([(1, "a", 0.31), (2, "b", [1.0, 2.0])])


def test_operator_tables_are_fixed(tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    OP.write_tables(str(tmp_path / "a"))
    OP.write_tables(str(tmp_path / "b"))
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    for name in names:
        assert pq.read_table(tmp_path / "a" / name).equals(
            pq.read_table(tmp_path / "b" / name))


def test_every_leaf_is_pinned_and_a_wrong_result_fails():
    pinned = OP.load_pinned()
    assert set(pinned) == set(OP.LEAVES)
    assert {module for module, _, _ in OP.LEAVES.values()} == set(OP.MODULES)
    o = B.Outcome()
    o.check_value("leaf q_doc_minhash", OP.digest([(499,)]), pinned["q_doc_minhash"])
    assert o.failed_frac == 1.0


# -- host ----------------------------------------------------------------------

def test_host_context_and_proc_probes():
    h = B.host_context()
    assert h["nproc"] >= 1 and len(h["loadavg"]) == 3 and h["python_probe_ms"] > 0
    assert B.cpu_seconds(os.getpid(), with_children=False) > 0
    assert B.rss_mb(os.getpid()) > 0
    assert os.getpid() not in B.process_tree(os.getpid())
    steal, total = B.cpu_ticks()
    assert 0 <= steal <= total and total > 0
