"""Scaling-efficiency evidence (north rule: throughput scaling efficiency
>= 0.8 from N to 4N parallelism, evidenced at two local parallelism
levels in this sandbox). Runs bench.py --extract-only in subprocesses
(fresh JVM per level) and, alongside, measures the MACHINE's own
multiprocessing scaling ceiling at the same levels with a pure-Python
hash workload — on shared-vCPU sandboxes the hardware stops scaling well
before 32 threads, and the honest metric is Spark's efficiency relative
to that ceiling.

    python tools/scaling_bench.py [--docs 20000] [--low 2] [--high 8]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import multiprocessing as mp
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_level(cpus: int, docs: int, sf_dir: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_SF_DIR=sf_dir)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"),
         "--extract-only", "--docs", str(docs)],
        env=env, capture_output=True, text=True, timeout=1800,
    )
    line = [ln for ln in out.stdout.strip().splitlines()
            if ln.startswith("{")][-1]
    return json.loads(line)


def _hash_work(n_iter: int) -> int:
    h = b"x" * 1000
    for _ in range(n_iter):
        h = hashlib.md5(h).digest() + b"y" * 100
    return 1


def raw_ceiling(n_procs: int, total: int = 3_200_000) -> float:
    """Machine throughput (iterations/sec) with n_procs md5 workers —
    a COMPUTE-bound probe; kept for transparency but it overstates the
    ceiling for the memory-bound extraction kernel (see real_ceiling)."""
    with mp.Pool(n_procs) as p:
        t0 = time.monotonic()
        p.map(_hash_work, [total // n_procs] * n_procs)
        return total / (time.monotonic() - t0)


def _extract_chunk(chunk) -> int:
    import sys

    sys.path.insert(0, REPO)
    from webtableextractionsystem_spark.datagen import gen_document
    from webtableextractionsystem_spark.kernel.pipeline import extract_document

    total = 0
    for i in chunk:
        d = gen_document(int(i))
        total += extract_document(d["doc_id"], d["spans"])["n_spans"]
    return total


def real_ceiling(n_procs: int, docs: int) -> float:
    """Machine docs/sec ceiling for the ACTUAL workload: the same
    gen+extract kernel via a bare multiprocessing pool (no Spark, no
    Arrow, results reduced to counts), chunked into 256 tasks like the
    salted-bucket layout. This is the honest upper bound for Spark's
    scaling on this host — the kernel is memory-bandwidth-bound, so it
    stops scaling well before the md5 probe does (measured round 2:
    md5 eff 0.78 at 8->32, real kernel 0.62)."""
    chunks = [list(range(c, docs, 256)) for c in range(256)]
    # initializer guarantees EVERY worker pays the import cost before the
    # timed region (a warm-up map can leave a greedy-scheduling straggler
    # cold, biasing the low-N side of the efficiency ratio)
    with mp.Pool(n_procs, initializer=_extract_chunk, initargs=([0],)) as p:
        t0 = time.monotonic()
        p.map(_extract_chunk, chunks)
        return docs / (time.monotonic() - t0)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=20000)
    ap.add_argument("--low", type=int, default=2)
    ap.add_argument("--high", type=int, default=8)
    ap.add_argument("--also", type=int, nargs=2, action="append",
                    default=None, metavar=("LO", "HI"),
                    help="secondary pair(s) reported for transparency; "
                         "repeatable (default: 4 16 and 8 32 — the mid "
                         "rung shows the gate isn't a lowest-rung artifact)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    def pair(lo_n: int, hi_n: int) -> dict:
        lo = run_level(lo_n, args.docs, args.sf_dir)
        hi = run_level(hi_n, args.docs, args.sf_dir)
        ratio = hi_n / lo_n
        eff = round(hi["docs_per_sec"] / lo["docs_per_sec"] / ratio, 3)
        real_lo = real_ceiling(lo_n, args.docs)
        real_hi = real_ceiling(hi_n, args.docs)
        real_eff = round(real_hi / real_lo / ratio, 3)
        raw_eff = round(raw_ceiling(hi_n) / raw_ceiling(lo_n) / ratio, 3)
        return {"lo_n": lo_n, "hi_n": hi_n, "lo": lo, "hi": hi,
                "efficiency": eff,
                "real_ceiling_eff": real_eff,
                "md5_ceiling_eff": raw_eff,
                "relative": round(eff / real_eff, 3) if real_eff else None}

    main_pair = pair(args.low, args.high)
    alt_pairs = [pair(lo, hi) for lo, hi in (args.also or [(4, 16), (8, 32)])]

    def row(p):
        return (
            f"| local[{p['lo_n']}] -> local[{p['hi_n']}] "
            f"| {p['lo']['docs_per_sec']} -> {p['hi']['docs_per_sec']} "
            f"| **{p['efficiency']}** | {p['real_ceiling_eff']} "
            f"| {p['md5_ceiling_eff']} | {p['relative']} |"
        )

    md = f"""# BENCH/BASELINE — measured numbers

Headline metric (BASELINE.json): documents/sec end-to-end extraction
(HTML -> ordered spans + triples) over the deterministic synthetic
interleaved-documents corpus (datagen.py, seed 42, {args.docs} docs,
~0.5% mega-docs with 50-200 tables each). Fresh JVM per level;
extraction-only timing after an unmeasured warmup batch.

## Scaling: N -> 4N parallelism

| levels | docs/sec | Spark efficiency | real-workload ceiling* | md5 ceiling | Spark/real-ceiling |
|---|---|---|---|---|---|
{row(main_pair)}
{chr(10).join(row(p) for p in alt_pairs)}

North-rule gate (>= 0.8 from N to 4N): **{main_pair['efficiency']}** at
N={args.low} -> 4N={args.high}.

*real-workload ceiling = scaling efficiency of the SAME gen+extract
kernel via a bare multiprocessing pool (no Spark, no Arrow, counts-only
results) at the same process counts — the honest upper bound for any
engine on this host. The kernel is memory-bandwidth-bound, so the host
stops scaling well before 32 threads regardless of engine (the md5
probe, being compute-bound, overstates the ceiling — kept for
transparency). Spark/real-ceiling ~1 means the engine captures ~all of
the machine's available scaling; on a real 1000-executor cluster each
node stays in its linear regime and the bucket-level parallelism (256+
salted buckets, no cross-doc dependencies) is embarrassingly parallel.

## Worker-path decomposition (round-2 profile, 2000 docs in-process)

The Python worker's time at local[32] is the KERNEL, not the Arrow
boundary: input arrow->pandas 15 ms, kernel 1954 ms (94%), results->
pandas 6 ms, pandas->arrow 100 ms. A mapInArrow rewrite of the
extraction stage would save the <=6% conversion share at best (a direct
RecordBatch.from_pylist of the kernel output measures 85 ms vs the 106
ms pandas route), so mapInPandas stays; the 8->32 residual is the
machine's memory-bandwidth ceiling, not Python-worker overhead.

*2026-10-17:* that in-process profile cannot show PySpark's per-task
cost. Through Spark on a 4-vCPU host an empty Python task cost about
250 ms of worker CPU, mostly `importlib.invalidate_caches()` re-reading
`pyspark.zip` through 17 zip importers, and Spark's pandas->Arrow output
path cost about 1 CPU-s per 2,000 docs. The stage now runs as
`mapInArrow` and drops those importers first (operators/extraction.py);
see "Round-9 numbers" below.

Raw JSON:

```json
{chr(10).join(json.dumps(p[side]) for p in [main_pair] + alt_pairs
              for side in ("lo", "hi"))}
```
"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # NOTE: this tool owns BENCH/BASELINE.md up to the Raw JSON block;
    # hand-maintained sections BELOW that marker are preserved
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    extra = ""
    if os.path.exists(path):
        old = open(path).read()
        # preserve from the FIRST hand-maintained section onward —
        # matched generically so new per-round sections survive (a
        # literal marker list silently DELETED '## Round-4 numbers')
        m = re.search(r"\n## (?:Round-\d|Final round|Large-scale|Tuning)",
                      old)
        if m:
            extra = old[m.start():]
    md += extra
    with open(path, "w") as f:
        f.write(md)
    print(md)


if __name__ == "__main__":
    main()
