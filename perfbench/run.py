"""Benchmark of the extraction engine: one workload per run, one result line.

    python3 perfbench/run.py --workload extract_kg --seed 1 --seconds 20 --trace 0

Each run is a fresh process: set-up (Spark session, seeded inputs written
to parquet), warm-up passes, then a fixed number of timed passes that
fills about ``--seconds`` (at least three), and the median pass is
reported. Outputs are checked against the
in-process kernel. ``--trace 1`` is a separate run that wraps the calls
into each module from outside and reports per-layer metrics plus a span
file under ``perfbench/out/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import functools  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import benchlib as B  # noqa: E402
import operators_probe as OP  # noqa: E402

# Sizes: each task holds a few hundred docs, as a production-sized run
# does, while a pass stays short enough for three or more per run.
# pass_s is the nominal warm pass time that sets the timed pass count.
WORKLOADS = {
    # one pass = CheckpointRunner.run + fuse_entities/write_entities_json
    # + triples_view/write_triples_csv over the whole corpus
    "extract_kg": {"files": 4, "docs_per_file": 500, "buckets": 8,
                   "warmup_passes": 3, "pass_s": 5.0},
    # one pass = 5 file drops, each followed by incremental_extract;
    # passes alternate between the two halves of the files
    "extract_trickle": {"files": 10, "docs_per_file": 300, "drops_per_pass": 5,
                        "warmup_passes": 1, "pass_s": 5.5},
}
MIN_PASSES = 3
SAMPLE_DOCS = 150          # span-checked docs besides every mega-doc
KERNEL_SAMPLE_DOCS = 2000  # traced in-process kernel replay
STREAM_PROBE_DROPS = 3     # traced fresh-stream probe


class Run:
    def __init__(self, args):
        self.workload = args.workload
        self.cfg = WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tr = B.Tracer(self.trace)
        self.outcome = B.Outcome()
        self.layer: dict[str, float] = {}
        self.detail: dict = {"workload": self.workload, "seed": self.seed,
                             "host": B.host_context()}
        os.makedirs(os.path.join(HERE, ".tmp"), exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".tmp"))
        self.spark = None
        self.me = os.getpid()

    def path(self, *parts) -> str:
        return os.path.join(self.dir, *parts)

    # -- set-up -------------------------------------------------------------

    def start_spark(self) -> None:
        tmp = self.path("tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        # every JVM of the session, the launcher included: temp files in
        # the run directory, no hsperfdata file in the system temp dir
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        sys.path.insert(0, ROOT)
        from webtableextractionsystem_spark import session as S

        # the shipped package zip defaults to a path outside the checkout
        S.package_zip = functools.partial(S.package_zip, self.path("pkg.zip"))
        cores = len(os.sched_getaffinity(0))
        with self.tr.span("session.get_spark") as sp:
            self.spark = S.get_spark(
                app_name="perfbench", cores=cores,
                extra_conf={
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.local.dir": self.path("local"),
                    "spark.ui.showConsoleProgress": "false",
                })
        self.layer["session.get_spark_s"] = B.seconds(sp)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.detail["cores"] = cores

    def write_corpus(self) -> None:
        """The seed's corpus, written as ``files`` parquet files."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from webtableextractionsystem_spark.datagen import gen_documents_pdf

        schema = pa.schema([
            pa.field("doc_id", pa.string(), nullable=False),
            pa.field("spans", pa.list_(pa.struct([
                ("kind", pa.string()), ("text", pa.string()),
                ("media_ref", pa.string()), ("offset", pa.int32())]))),
        ])
        n = self.cfg["docs_per_file"]
        os.makedirs(self.path("corpus"))
        self.files = []
        gen_s = 0.0
        for f in range(self.cfg["files"]):
            with self.tr.span("datagen.gen_documents_pdf") as sp:
                pdf = gen_documents_pdf(B.seed_range(self.seed, n, f * n))
            gen_s += B.seconds(sp)
            path = self.path("corpus", f"part-{f:03d}.parquet")
            pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                                preserve_index=False), path)
            self.files.append(path)
        self.layer["datagen.gen_s"] = gen_s
        self.n_docs = n * self.cfg["files"]

    # -- extract_kg -----------------------------------------------------------

    def kg_pass(self, tag: str, docs, buckets: int) -> dict:
        from webtableextractionsystem_spark.checkpoint import CheckpointRunner
        from webtableextractionsystem_spark.io_sinks import (
            write_entities_json,
            write_triples_csv,
        )
        from webtableextractionsystem_spark.operators.extraction import (
            entities_view,
            triples_view,
        )
        from webtableextractionsystem_spark.operators.fusion import fuse_entities

        out = self.path("kg", tag)
        with self.tr.span("kg.pass") as whole:
            runner = CheckpointRunner(self.spark, out, num_buckets=buckets)
            with self.tr.span("checkpoint.run") as ckpt:
                res = runner.run(docs)
            ext = runner.extracted()
            with self.tr.span("io_sinks.write_entities_json") as ents:
                write_entities_json(fuse_entities(entities_view(ext)),
                                    os.path.join(out, "entities"))
            with self.tr.span("io_sinks.write_triples_csv") as trip:
                write_triples_csv(triples_view(ext), os.path.join(out, "triples"))
        return {"wall": B.seconds(whole), "batches": [B.seconds(ckpt)],
                "entities": B.seconds(ents), "triples": B.seconds(trip),
                "docs": res["docs"], "dir": out}

    def kg_docs(self):
        from webtableextractionsystem_spark.schemas import DOCUMENTS

        return self.spark.read.schema(DOCUMENTS).parquet(self.path("corpus"))

    # -- extract_trickle ------------------------------------------------------

    def stream_open(self, name: str) -> dict:
        s = {"in": self.path(name, "in"), "stage": self.path(name, "stage"),
             "out": self.path(name, "out"), "ckpt": self.path(name, "ckpt"),
             "drops": 0}
        os.makedirs(s["in"])
        os.makedirs(s["stage"])
        return s

    def drop(self, s: dict) -> float:
        """Drop the next file and run incremental_extract until it commits;
        returns drop-to-commit seconds."""
        from webtableextractionsystem_spark.streaming.incremental import (
            incremental_extract,
        )

        k = s["drops"]
        name = f"drop-{k:05d}.parquet"
        staged = os.path.join(s["stage"], name)
        shutil.copyfile(self.files[k % len(self.files)], staged)
        with self.tr.span("streaming.batch") as sp:
            os.rename(staged, os.path.join(s["in"], name))
            incremental_extract(self.spark, s["in"], s["out"], s["ckpt"])
        s["drops"] += 1
        return B.seconds(sp)

    def trickle_pass(self, s: dict) -> dict:
        with self.tr.span("trickle.pass") as sp:
            batches = [self.drop(s) for _ in range(self.cfg["drops_per_pass"])]
        return {"wall": B.seconds(sp), "batches": batches,
                "docs": len(batches) * self.cfg["docs_per_file"]}

    # -- checks ---------------------------------------------------------------

    def expected_sample(self) -> dict[str, list[tuple]]:
        """In-process kernel output for every mega-doc of the corpus plus a
        seeded sample of the rest."""
        import pyarrow.parquet as pq

        from webtableextractionsystem_spark.datagen import MEGA_EVERY, doc_id_of
        from webtableextractionsystem_spark.kernel.pipeline import extract_document

        n = self.cfg["docs_per_file"]
        idx = list(B.seed_range(self.seed, self.n_docs))
        mega = {i for i in idx if i % MEGA_EVERY == 0 and i > 0}
        rest = [i for i in idx if i not in mega]
        picked = mega | set(random.Random(self.seed).sample(
            rest, min(SAMPLE_DOCS, len(rest))))
        base = idx[0]
        by_file = defaultdict(set)
        for i in picked:
            by_file[(i - base) // n].add(doc_id_of(i))
        out = {}
        for f, ids in by_file.items():
            for row in pq.read_table(self.files[f]).to_pylist():
                if row["doc_id"] in ids:
                    res = extract_document(row["doc_id"], row["spans"])
                    out[row["doc_id"]] = B.span_tuples(res["out_spans"])
        self.detail["sample"] = {"docs": len(out), "mega": len(mega)}
        return out

    def check_extracted(self, df, expected_docs: int) -> None:
        from pyspark.sql import functions as F

        row = df.agg(
            F.count("*").alias("rows"),
            F.sum(((F.col("n_errors") > 0) |
                   (F.coalesce(F.col("error"), F.lit("")) != ""))
                  .cast("int")).alias("bad")).first()
        self.outcome.check_docs(expected_docs, row["rows"], row["bad"] or 0)
        want = self.expected_sample()
        got = (df.where(F.col("doc_id").isin(list(want)))
               .select("doc_id", "out_spans").collect())
        self.outcome.check_spans(want, [(r["doc_id"], r["out_spans"]) for r in got])

    def check_kg(self, passes: list[dict]) -> None:
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        dirs = [p["dir"] for p in passes]
        ext = functools.reduce(DataFrame.unionByName, [
            self.spark.read.parquet(os.path.join(d, "extracted")) for d in dirs])
        self.check_extracted(ext, self.n_docs * len(passes))
        n_triples = ext.agg(F.sum(F.size("triples"))).first()[0] or 0
        lines = self.spark.read.text(
            [os.path.join(d, "triples") for d in dirs]).count()
        self.outcome.check_value("triples csv lines", lines, n_triples)
        ents = self.spark.read.text(
            os.path.join(dirs[0], "entities")).count()
        all_ents = self.spark.read.text(
            [os.path.join(d, "entities") for d in dirs]).count()
        self.outcome.check_value("entities json lines per pass",
                                 all_ents, ents * len(dirs))
        self.outcome.check_value("entities json non-empty", ents > 0, True)

    def check_stream(self, s: dict) -> None:
        out = self.spark.read.parquet(s["out"])
        per_batch = {r["batch"]: r["count"]
                     for r in out.groupBy("batch").count().collect()}
        n = self.cfg["docs_per_file"]
        self.outcome.check_value("batches committed", sorted(per_batch),
                                 list(range(s["drops"])))
        self.outcome.check_value(
            "batches holding one file each",
            sorted(b for b, c in per_batch.items() if c != n), [])
        self.check_extracted(out, s["drops"] * n)

    # -- probes ---------------------------------------------------------------

    def cpu(self) -> tuple[float, float]:
        return B.cpu_split(self.me)

    def kernel_replay(self) -> None:
        """Time the in-process kernel on a fixed sample of the seed's
        corpus, first plain, then with each phase wrapped."""
        from webtableextractionsystem_spark.datagen import MEGA_EVERY, gen_documents_pdf
        from webtableextractionsystem_spark.kernel import pipeline as P

        idx = B.seed_range(self.seed, KERNEL_SAMPLE_DOCS)
        pdf = gen_documents_pdf(idx)
        docs = list(zip(pdf["doc_id"], pdf["spans"], idx))
        per_doc, mega_t, spans, triples = [], 0.0, 0, 0
        with self.tr.span("kernel.replay"):
            for doc_id, doc_spans, i in docs:
                t = time.perf_counter()
                res = P.extract_batch([doc_id], [doc_spans])[0]
                dt = time.perf_counter() - t
                per_doc.append(dt)
                if i % MEGA_EVERY == 0 and i > 0:
                    mega_t += dt
                spans += res["n_spans"]
                triples += len(res["triples"])
        total = sum(per_doc)
        L = self.layer
        L["kernel.us_per_doc"] = total / len(docs) * 1e6
        L["kernel.max_doc_ms"] = max(per_doc) * 1000
        L["kernel.mega_share"] = mega_t / total
        L["kernel.spans"] = spans
        L["kernel.triples"] = triples

        acc = defaultdict(float)
        state = {"in_locate": False, "raw": 0, "kept": 0}

        def wrap(name, fn):
            def timed(*a, **k):
                nested = name == "locate_raw_tables"
                if nested:
                    state["in_locate"] = True
                t = time.perf_counter()
                try:
                    res = fn(*a, **k)
                finally:
                    dt = time.perf_counter() - t
                    acc[name] += dt
                    if nested:
                        state["in_locate"] = False
                    elif name == "pre_treat" and state["in_locate"]:
                        acc["pre_treat_in_locate"] += dt
                if name == "process_raw_table":
                    state["raw"] += 1
                    state["kept"] += res is not None
                return res
            return timed

        names = ["pre_treat", "locate_raw_tables", "classify_batch",
                 "process_raw_table", "emit_table_spans"]
        orig = {n: getattr(P, n) for n in names}
        try:
            for n in names:
                setattr(P, n, wrap(n, orig[n]))
            with self.tr.span("kernel.replay_phases"):
                for doc_id, doc_spans, _ in docs:
                    P.extract_batch([doc_id], [doc_spans])
        finally:
            for n in names:
                setattr(P, n, orig[n])
        L["kernel.dom.pre_treat_s"] = acc["pre_treat"]
        L["kernel.html_tables.locate_s"] = (acc["locate_raw_tables"]
                                            - acc["pre_treat_in_locate"])
        L["kernel.celltype.classify_s"] = acc["classify_batch"]
        L["kernel.pipeline.process_table_s"] = acc["process_raw_table"]
        L["kernel.pipeline.emit_s"] = acc["emit_table_spans"]
        L["kernel.raw_tables"] = state["raw"]
        L["kernel.tables_kept"] = state["kept"]
        L["kernel.keep_ratio"] = state["kept"] / max(state["raw"], 1)

    def stage_probe(self, docs, buckets: int) -> None:
        """extract_all alone, into the noop sink, with its CPU split."""
        from webtableextractionsystem_spark.operators.extraction import extract_all

        jobs = JobWindow(self.spark)
        py0, jvm0 = self.cpu()
        with self.tr.span("extraction.extract_all") as sp:
            (extract_all(docs, buckets).write.format("noop")
             .mode("overwrite").save())
        py1, jvm1 = self.cpu()
        L = self.layer
        L["extraction.stage_s"] = B.seconds(sp)
        L["extraction.python_cpu_s"] = py1 - py0
        L["extraction.jvm_cpu_s"] = jvm1 - jvm0
        L["extraction.nonkernel_cpu_s"] = (
            (py1 - py0) - L["kernel.us_per_doc"] * self.n_docs / 1e6)
        L["extraction.tasks"] = jobs.tasks()

    def python_task_probe(self) -> None:
        """Python-worker CPU per empty mapInPandas task."""
        n = 2 * len(os.sched_getaffinity(0))
        df = self.spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long")
        per_task = []
        with self.tr.span("spark.empty_python_tasks"):
            for _ in range(3):
                py0, _ = self.cpu()
                df.write.format("noop").mode("overwrite").save()
                py1, _ = self.cpu()
                per_task.append((py1 - py0) / n * 1000)
        self.layer["spark.python_task_ms"] = B.median(per_task)

    def operators_probe(self) -> None:
        """The operator leaves over small fixed tables: one pass after
        clearing every session cache, then one warm pass without clearing.
        Every leaf result is compared with its pinned value."""
        from webtableextractionsystem_spark.operators._cache import (
            clear_session_caches,
        )

        sf_dir = self.path("operator_tables")
        OP.write_tables(sf_dir)
        pinned = OP.load_pinned()
        calls = {name: OP.leaf_call(self.spark, sf_dir, name) for name in OP.LEAVES}
        digests = {}

        def one_pass(tag: str, clear: bool) -> tuple[float, dict[str, float]]:
            if clear:
                clear_session_caches()
                self.spark.catalog.clearCache()
            times = {}
            with self.tr.span(f"operators.{tag}_pass") as whole:
                for name, call in calls.items():
                    with self.tr.span(f"leaf.{name}") as sp:
                        try:
                            digests[name] = OP.digest(call())
                        except Exception as e:   # a failed leaf, not a failed run
                            traceback.print_exc()
                            digests[name] = f"raised {type(e).__name__}: {e}"[:200]
                    times[name] = B.seconds(sp)
                    self.outcome.check_value(f"leaf {name}", digests[name],
                                             pinned.get(name))
            return B.seconds(whole), times

        _, times = one_pass("cleared", clear=True)
        warm_s, _ = one_pass("warm", clear=False)
        L = self.layer
        for name, t in times.items():
            L[f"leaf.{name}_s"] = t
        for module in OP.MODULES:
            L[f"operators.{module}_s"] = sum(
                t for name, t in times.items() if OP.LEAVES[name][0] == module)
        L["cache.warm_pass_s"] = warm_s
        self.detail["leaf_digests"] = digests

    def fusion_probe(self, kg_dir: str) -> None:
        from webtableextractionsystem_spark.operators.extraction import entities_view
        from webtableextractionsystem_spark.operators.fusion import fuse_entities

        fused = fuse_entities(entities_view(
            self.spark.read.parquet(os.path.join(kg_dir, "extracted"))))
        with self.tr.span("fusion.fuse_entities") as sp:
            fused.write.format("noop").mode("overwrite").save()
        self.layer["fusion.fuse_s"] = B.seconds(sp)
        self.layer["fusion.nodes"] = fused.count()

    # -- the run --------------------------------------------------------------

    def timed_loop(self, one_pass) -> tuple[list[dict], list[dict]]:
        """A fixed number of passes that fills about ``--seconds`` (at least
        MIN_PASSES), so a slow run measures the same passes as a fast one.
        A traced run alternates untraced and traced passes, at least two
        of each; returns (untraced, traced)."""
        n = max(MIN_PASSES, round(self.seconds / self.cfg["pass_s"]))
        plain, traced = [], []
        steal0, total0 = B.cpu_ticks()
        with B.WorkerRssSampler(self.me) as rss:
            rss.active.set()
            for i in range(max(n, 4) if self.trace else n):
                on = self.trace and i % 2 == 1
                self.tr.enabled = on
                jobs = JobWindow(self.spark) if on else None
                py0, jvm0 = self.cpu()
                p = one_pass()
                py1, jvm1 = self.cpu()
                p["cpu"] = {"python": py1 - py0, "jvm": jvm1 - jvm0}
                if on:
                    p["tasks"] = jobs.tasks()
                (traced if on else plain).append(p)
            rss.active.clear()
            rss.sample()
        steal1, total1 = B.cpu_ticks()
        self.detail["host"]["steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
        self.tr.enabled = self.trace
        self.rss_peak_mb = rss.peak_mb
        return plain, traced

    def run(self) -> dict:
        self.start_spark()
        self.write_corpus()
        if self.workload == "extract_kg":
            docs, tags = self.kg_docs(), itertools.count(1)

            def one_pass():
                return self.kg_pass(f"pass-{next(tags):03d}", docs,
                                    self.cfg["buckets"])
        else:
            stream = self.stream_open("stream")
            one_pass = functools.partial(self.trickle_pass, stream)
        first = [one_pass() for _ in range(self.cfg["warmup_passes"])]
        setup_s = time.monotonic() - T_START
        self.detail["warmup_walls"] = [p["wall"] for p in first]

        plain, traced = self.timed_loop(one_pass)
        self.detail["walls"] = [p["wall"] for p in plain]
        self.detail["cpu"] = [p["cpu"] for p in plain]
        self.detail["batches"] = [b for p in plain for b in p["batches"]]

        if self.workload == "extract_kg":
            self.check_kg(plain + traced)
        else:
            self.check_stream(stream)

        wall = B.median(p["wall"] for p in plain)
        m = {
            "setup_s": setup_s,
            "wall_s": wall,
            "docs_per_s": plain[0]["docs"] / wall,
            "batch_p50_s": B.median(b for p in plain for b in p["batches"]),
            "worker_peak_rss_mb": self.rss_peak_mb,
            "ok_frac": 1.0 - self.outcome.failed_frac,
        }
        if not self.trace:
            return m

        # -- traced run: per-layer metrics ----------------------------------
        L = self.layer
        L["trace.overhead_s"] = B.median(p["wall"] for p in traced) - wall
        L["spark.tasks"] = B.median(p["tasks"] for p in traced)
        self.kernel_replay()
        kg = WORKLOADS["extract_kg"]
        if self.workload == "extract_kg":
            kg_passes = traced
        else:
            # the first kg pass of a session is cold: time the second
            kg_passes = [self.kg_pass(tag, self.kg_docs(), kg["buckets"])
                         for tag in ("probe-warm", "probe")][1:]
        L["checkpoint.run_s"] = B.median(p["batches"][0] for p in kg_passes)
        L["io_sinks.entities_json_s"] = B.median(p["entities"] for p in kg_passes)
        L["io_sinks.triples_csv_s"] = B.median(p["triples"] for p in kg_passes)
        self.stage_probe(self.kg_docs(), kg["buckets"])
        L["checkpoint.overhead_s"] = L["checkpoint.run_s"] - L["extraction.stage_s"]
        self.fusion_probe(kg_passes[-1]["dir"])
        # a fresh stream in the warm session, fed files of this corpus
        probe = self.stream_open("stream_probe")
        batches = [self.drop(probe) for _ in range(STREAM_PROBE_DROPS)]
        L["streaming.first_batch_s"] = batches[0]
        if self.workload == "extract_trickle":
            batches = [b for p in traced for b in p["batches"]]
        stream_docs = self.cfg["docs_per_file"]
        L["streaming.batch_max_s"] = max(batches)
        L["streaming.kernel_share"] = (L["kernel.us_per_doc"] * stream_docs / 1e6
                                       / B.median(batches))
        self.python_task_probe()
        self.operators_probe()
        self.detail["untraced_metrics"] = m
        return L

    def write_spans(self) -> None:
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(
            out, f"spans-{self.workload}-seed{self.seed}-{self.tr.run_id}.json")
        with open(path, "w") as f:
            json.dump({"run_id": self.tr.run_id, "spans": self.tr.spans,
                       "self_s": B.self_time_by_name(self.tr.spans),
                       "metrics": self.layer, "detail": self.detail}, f)
        self.detail["span_file"] = os.path.relpath(path, ROOT)

    def close(self) -> None:
        """Stop Spark, wait for the JVM and every worker to end, and delete
        the run directory."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                gw = SparkContext._gateway
                proc = getattr(gw, "proc", None)
                left = B.process_tree(self.me)
                try:
                    self.spark.stop()
                finally:
                    if gw is not None:
                        gw.shutdown()
                    if proc is not None:
                        proc.stdin.close()   # the JVM exits on EOF from stdin
                        proc.wait(timeout=60)
                    _wait_gone(left)
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.dir))
            except OSError:   # another run is still using it
                pass


class JobWindow:
    """Tasks run by the Spark jobs submitted after construction, from
    ``statusTracker`` (job ids are dense and increasing)."""

    def __init__(self, spark):
        self.st = spark.sparkContext.statusTracker()
        self.first = self._next(0)

    def _next(self, start: int) -> int:
        while self.st.getJobInfo(start) is not None:
            start += 1
        return start

    def tasks(self) -> int:
        end = self._next(self.first)
        n = 0
        for j in range(self.first, end):
            for sid in self.st.getJobInfo(j).stageIds:
                info = self.st.getStageInfo(sid)
                n += info.numCompletedTasks if info is not None else 0
        return n


def _wait_gone(pids, timeout: float = 20.0) -> None:
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "webtableextractionsystem_spark")):
        print("perfbench: the package webtableextractionsystem_spark is not "
              f"next to {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # SIGTERM unwinds through close(), which stops Spark and its workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    try:
        metrics = run.run()
        if run.trace:
            run.write_spans()
    finally:
        run.close()
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if run.trace else "end_to_end"]}
    if set(metrics) != set(units):
        raise RuntimeError("metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
    print(json.dumps({"detail": run.detail, "notes": run.outcome.notes}))
    print(json.dumps({
        "correct": run.outcome.failed == 0,
        "attempted": run.outcome.attempted,
        "failed": run.outcome.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
