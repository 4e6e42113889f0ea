"""Entity-fusion skew probe: one name holding every mention, three shapes.

    python tools/fusion_skew.py [--cores 4] [--rounds 3] [--only 80k_one_url]

Fixtures (Spark SQL generators, written to parquet before timing):

* ``80k_one_url``    80,000 mentions x 20 props, 95% of them one url
* ``80k_alternating`` 80,000 mentions x 20 props, two urls in turn
* ``640k_one_url``   640,000 mentions x 20 props, 95% of them one url

For each fixture it runs ``fuse_entities`` over the parquet scan into a
``noop`` sink once to warm up, then ``--rounds`` times, and prints the
best time, the peak RSS of the session's Python workers while the
fixture ran (VmRSS sampled from /proc every 50 ms, so a shorter peak can
be missed), the node count and a sha256 of the sorted fused rows
(props in map entry order, n_sources included). Run it on two commits to
compare them: the package is shipped from a zip inside the tool's own
temp dir, so two checkouts never share one.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import json
import os
import shutil
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ONE_URL = ("CASE WHEN pmod(xxhash64(id, 1), 20) = 0 "
           "THEN concat('http://b/', pmod(id, 97)) ELSE 'http://a/1' END")
FIXTURES = {  # name -> (mentions, url expression over id)
    "80k_one_url": (80_000, ONE_URL),
    "80k_alternating": (80_000, "CASE WHEN id % 2 = 0 THEN 'http://a/1' "
                                "ELSE 'http://b/2' END"),
    "640k_one_url": (640_000, ONE_URL),
}


def mentions(spark, n: int, url: str):
    return spark.range(n).selectExpr(
        "format_string('d%07d', id div 10) AS doc_id",
        "cast(id % 10 AS int) AS seq",
        "'甲乙' AS name",
        f"{url} AS url",
        "map_from_arrays(transform(sequence(0, 19), i -> format_string('p%02d', i)),"
        " transform(sequence(0, 19), i -> concat('v', pmod(xxhash64(id, i), 50))))"
        " AS props",
    )


def _python_workers() -> list[int]:
    """Python processes below this one (the PySpark daemon and workers)."""
    me, parent = os.getpid(), {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    out = []
    for pid in parent:
        p = parent[pid]
        while p in parent and p != me:
            p = parent[p]
        if p != me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().split(b"\0")[0].decode()
        except OSError:
            continue
        if os.path.basename(cmd).startswith("python"):
            out.append(pid)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class PeakRss:
    """Peak VmRSS of any Python worker while the block runs."""

    def __enter__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self):
        while not self._stop.wait(0.05):
            for pid in _python_workers():
                self.peak_mb = max(self.peak_mb, _rss_mb(pid))


def digest(df) -> tuple[int, str]:
    rows = df.toArrow().to_pylist()   # Arrow keeps the map entry order
    lines = sorted(json.dumps([r["name"], r["url"], r["props"], r["n_sources"]],
                              ensure_ascii=False) for r in rows)
    return len(rows), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--only", nargs="*", choices=sorted(FIXTURES))
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    from webtableextractionsystem_spark import session as S
    from webtableextractionsystem_spark.operators.fusion import fuse_entities

    tmp = tempfile.mkdtemp(prefix="fusion-skew-")
    try:
        S.package_zip = functools.partial(S.package_zip,
                                          os.path.join(tmp, "pkg.zip"))
        spark = S.get_spark(app_name="fusion-skew", cores=args.cores,
                            extra_conf={"spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        print(f"| fixture | fuse_entities s (best of {args.rounds}) "
              "| peak worker RSS MB | nodes | sorted sha256 |")
        print("|---|---|---|---|---|")
        for name in args.only or FIXTURES:
            n, url = FIXTURES[name]
            path = os.path.join(tmp, name)
            mentions(spark, n, url).write.parquet(path)
            fused = fuse_entities(spark.read.parquet(path))
            times = []
            with PeakRss() as rss:
                for _ in range(args.rounds + 1):
                    t0 = time.perf_counter()
                    fused.write.format("noop").mode("overwrite").save()
                    times.append(time.perf_counter() - t0)
            nodes, sha = digest(fused)
            print(f"| {name} | {min(times[1:]):.2f} | {rss.peak_mb:.0f} "
                  f"| {nodes} | {sha[:16]} |", flush=True)
        spark.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
