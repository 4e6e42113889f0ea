"""The entity-fusion fold without Spark: hand-built Arrow batches in the
(name, doc_id, seq) order the stage sorts them into, fused nodes read back
with their property entry order (``write_entities_json`` bytes follow it).
The 氏 drop happens JVM-side in ``fuse_entities`` before the fold and is
covered by the Spark tests in test_spark_pipeline.py."""

import gc
import os
import random
import subprocess
import sys
import time

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from webtableextractionsystem_spark.operators import fusion

IN_SCHEMA = pa.schema([
    ("name", pa.string()),
    ("url", pa.string()),
    ("props", pa.map_(pa.string(), pa.string())),
])

FUSED = to_arrow_schema(fusion.FUSED)


def _batch(rows):
    return pa.RecordBatch.from_pylist(
        [{"name": n, "url": u, "props": p} for n, u, p in rows],
        schema=IN_SCHEMA)


def _fold(batches):
    # the fold yields row lists; arrow_map builds each into one batch
    return [pa.RecordBatch.from_pylist(rows, schema=FUSED).to_pylist()
            for rows in fusion.fuse_batches(iter(batches))]


def test_fold_merge_paths_across_batches():
    rows = [
        ("甲乙", "http://a/1", {"k": "v1", "j": "w1"}),     # creates node 0
        ("甲乙", "http://a/1", None),                       # NULL bag in run
        ("甲乙", "http://a/1", {"x": "y", "k": "v2"}),      # k kept
        ("甲乙", "http://a/1/sub", {"s": "1"}),             # node 0 url inside
        ("甲乙", "http://a", {"t": "2"}),                   # inside node 0 url
        # --- batch boundary: the name continues in a sliced batch
        ("甲乙", "http://b/2", {"z": "q"}),                 # new node 1
        ("甲乙", "http://c/3", {"c": "1"}),                 # new node 2
        ("甲乙", "http://b/2", {"z": "r", "m": "n"}),       # exact: node 1
        ("甲乙", "", {"e": "1"}),                           # url-less: node 0
        ("甲乙", None, {"f": None}),                        # url-less: node 0
        ("钱", None, {"p": "1"}),                           # url-less node 0
        ("钱", "http://d/4", {"q": "2"}),                   # dropped
        ("钱", " ", {"r": "3"}),                            # url-less: node 0
        ("钱氏", "http://e/5", {"a": "1"}),                 # its own name
    ]
    pad = [("甲", "http://p", {"pk": "pv", "pk2": "pv2"})] * 3
    first = _batch(rows[:5])
    second = _batch(pad + rows[5:]).slice(len(pad))
    empty = _batch([])
    assert second.column("props").offsets[0].as_py() == 6

    out = _fold([first, empty, second])
    assert out == [
        [   # the sliced batch completes 甲乙 and 钱
            {"name": "甲乙", "url": "http://a/1", "n_sources": 7,
             "props": [("k", "v1"), ("j", "w1"), ("x", "y"), ("s", "1"),
                       ("t", "2"), ("e", "1"), ("f", None)]},
            {"name": "甲乙", "url": "http://b/2", "n_sources": 2,
             "props": [("z", "q"), ("m", "n")]},
            {"name": "甲乙", "url": "http://c/3", "n_sources": 1,
             "props": [("c", "1")]},
            {"name": "钱", "url": "", "n_sources": 2,
             "props": [("p", "1"), ("r", "3")]},
        ],
        [   # the last name is flushed after the input ends
            {"name": "钱氏", "url": "http://e/5", "n_sources": 1,
             "props": [("a", "1")]},
        ],
    ]


def test_fold_null_bags_and_empty_input():
    # a NULL bag first, then one whose slot spans a child segment: Arrow
    # lets a null slot cover arbitrary entries, which must not be read
    spans = pa.MapArray.from_arrays(pa.array([0, 0, 1, 2], pa.int32()),
                                    pa.array(["junk", "k"]), pa.array(["x", "v"]))
    props = pa.Array.from_buffers(
        spans.type, 3, [pa.array([False, False, True]).buffers()[1],
                        spans.buffers()[1]], children=[spans.values])
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["甲乙"] * 3), pa.array(["http://a/1"] * 3), props],
        schema=IN_SCHEMA)
    assert batch.column("props").to_pylist() == [None, None, [("k", "v")]]
    assert _fold([batch]) == [[{"name": "甲乙", "url": "http://a/1",
                                "n_sources": 3, "props": [("k", "v")]}]]
    assert _fold([]) == []
    assert _fold([_batch([])]) == []


def _reference(rows):
    """The per-name merge as a plain loop with a scan over the name's
    nodes (the pre-fold formulation): rows in fold order -> fused rows."""
    out, nodes, name = [], [], None
    for n, url, props in rows + [(None, None, None)]:
        if n != name:
            out += [{"name": name, "url": u or "", "props": list(p.items()),
                     "n_sources": c} for u, p, c in nodes]
            nodes, name = [], n
        if n is None:
            break
        url, props = url or "", props or {}
        if url == "" or url.isspace():
            target = nodes[0] if nodes else None
            url = None
        else:
            target = next((x for x in nodes if x[0] == url), None)
            if target is None and nodes:
                if nodes[0][0] is None:
                    continue
                if nodes[0][0] in url or url in nodes[0][0]:
                    target = nodes[0]
        if target is None:
            nodes.append([url, dict(props), 1])
            continue
        for k, v in props.items():
            target[1].setdefault(k, v)
        target[2] += 1
    return out


def test_fold_matches_reference_on_random_batches():
    rng = random.Random(7)
    urls = ["http://a/1", "http://a/1/x", "http://a", "http://b/2",
            "http://b", "", " ", None]
    for _ in range(40):
        rows = []
        for name in sorted(rng.sample(["甲", "甲乙", "乙", "钱", "钱氏"], 3)):
            for _ in range(rng.randrange(1, 30)):
                keys = rng.sample("abcdef", rng.randrange(0, 4))
                props = None if rng.random() < 0.1 else {
                    k: rng.choice([None, str(rng.randrange(5))]) for k in keys}
                rows.append((name, rng.choice(urls), props))
        batches, i = [], 0
        while i < len(rows):
            # a slice that skips rows already folded, so offsets start > 0
            step, lo = rng.randrange(1, 12), max(0, i - rng.randrange(0, 3))
            batches.append(_batch(rows[lo:i + step]).slice(i - lo))
            i += step
        got = [row for b in _fold(batches) for row in b]
        assert got == _reference(rows)


def test_fold_scales_linearly_in_distinct_urls():
    """Each mention brings a new url, so a per-mention scan of the name's
    nodes would be quadratic. A run times 16k, 32k and 64k mentions back
    to back; the best of 3 runs is kept, and the cyclic collector runs
    before each fold, outside the timer."""
    def batches(n):
        table = pa.Table.from_batches([_batch(
            [("甲乙", f"http://u/{i:06d}", {"k": str(i)}) for i in range(n)])])
        return table.to_batches(max_chunksize=256)

    inputs = {n: batches(n) for n in (16_000, 32_000, 64_000)}

    def seconds(n):
        gc.collect()
        gc.disable()
        try:
            t0 = time.perf_counter()
            nodes = sum(len(rows) for rows in fusion.fuse_batches(iter(inputs[n])))
            elapsed = time.perf_counter() - t0
        finally:
            gc.enable()
        assert nodes == n
        return elapsed

    runs = []
    for _ in range(3):
        t16, t32, t64 = (seconds(n) for n in inputs)
        runs.append(max(t32 / t16, t64 / t32))
    assert min(runs) <= 2.5, runs


def test_fold_module_does_not_import_pandas():
    # pyarrow still loads pandas lazily on the first to_numpy() of a
    # string column; the module itself stays off it
    code = (
        "import sys\n"
        "from webtableextractionsystem_spark.operators import fusion\n"
        "assert 'pandas' not in sys.modules\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True)
