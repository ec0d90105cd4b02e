"""The benchmark's workloads, their correctness checks and the traced
per-layer probes.

Every timing is taken here, around calls into the package's public
functions; per-layer counters come from Spark's status stores
(``spark_stats``).  Layers are named after the package's modules.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
import traceback
from statistics import median

from . import inputs
from .metrics import Tracer
from .spark_stats import SparkStats, sql_total

#: pages in the stage corpus: about 2 s per block-level stage run at local[4]
STAGE_PAGES = 2000
#: corpus files; the scan yields one split per file
STAGE_FILES = 4
#: operations (stage runs or query passes) a measuring window holds at least.
#: Walls keep falling under the JIT for more than ten stage runs, so the
#: minimum, not the clock, has to set the count (8 s windows on a 4-vCPU
#: VM): then a faster or slower window does not change how warm its median
#: is.  Single walls swing by about 25 % within a run, so the median needs
#: this many.
MIN_OPS = {"stage": 8, "operators": 6}
#: untimed operations before the window: Spark's planning and I/O code keeps
#: getting faster under the JIT for about ten stage runs (3.5 s -> 1.8 s),
#: most of it in the first three
WARMUP_OPS = {"stage": 3, "operators": 2}
#: two queries that ROADMAP items name and one query of five more modules.
#: All 59 queries take far longer than one run may spend.
OPERATOR_QUERIES = (
    "agg_concat_reading_order",  # relational
    "host_skew",  # text
    "exact_dedup",  # dedup
    "media_meta",  # multimodal
    "font_style",  # fontshape
    "glyph_topk",  # glyphs
    "url_canonicalize",  # urls
)
#: in-process kernel/oracle probe size: about one second per call
CORE_PROBE_DOCS = 1500
#: copies of the corpus the multiprocessing control runs, so that it takes
#: a few seconds and its pool start-up is a small share of it
CONTROL_REPEAT = 8
MIB = 2**20

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "peak_rss_mb": "MiB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.python_worker_start_s": "s",
    "sources.scan_s": "s",
    "sources.splits": "count",
    "sources.input_mb": "MiB",
    "pipeline.extract_s": "s",
    "pipeline.commit_s": "s",
    "pipeline.jobs_per_stage": "count",
    "pipeline.shuffle_write_mb": "MiB",
    "pipeline.output_mb": "MiB",
    "pipeline.jvm_cpu_s": "s",
    "pipeline.gc_s": "s",
    "pipeline.spark_over_control": "ratio",
    "kernel.python_run_s": "s",
    "kernel.to_python_mb": "MiB",
    "kernel.from_python_mb": "MiB",
    "kernel.docs_per_s_core": "docs/s",
    "kernel.arrow_build_share": "ratio",
    "oracle.docs_per_s_core": "docs/s",
    "oracle.failed_docs": "count",
    **{"operators.%s_s" % q: "s" for q in OPERATOR_QUERIES},
    "operators.total_s": "s",
    "operators.query_p50_s": "s",
    "operators.shuffle_write_mb": "MiB",
    "operators.jobs": "count",
    "trace.overhead_s": "s",
}

WORKLOADS = ("stage_block", "operators")


def _digest(text):
    return None if text is None else hashlib.sha256(text.encode("utf-8")).hexdigest()


class Run:
    """One benchmark run: a workload on one Spark session, its counters of
    attempted and failed operations, and the metrics it reports."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer: Tracer, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.cores = cores
        self.stats = SparkStats(spark) if tracer.enabled else None
        self.layers = dict.fromkeys(PER_LAYER, 0.0)
        self.readouts: dict[str, list] = {}
        self.notes: dict[str, object] = {}

    def _readout(self, key: str | None):
        """Job-group context that records a status-store read-out under
        ``key`` while tracing, and does nothing otherwise."""
        from contextlib import nullcontext

        if key is None or self.stats is None or not self.tracer.enabled:
            return nullcontext()
        out: dict = {}
        self.readouts.setdefault(key, []).append(out)
        return self.stats.group(out)

    def _timed_ops(self, op, kind: str) -> list[float]:
        """Call ``op()`` (which returns its own timed wall) until the walls
        add up to ``seconds`` and at least ``MIN_OPS[kind]`` ran."""
        walls: list[float] = []
        while sum(walls) < self.seconds or len(walls) < MIN_OPS[kind]:
            walls.append(op())
        return walls


class StageRun(Run):
    """``pipeline.run_stage`` with the production ``extract`` preset over a
    pages corpus built from sf0.1 documents, from parquet scan to manifest
    commit."""

    def __init__(self, *a):
        super().__init__(*a)
        from ocrd_tesserocr_spark import plans

        self.params = plans.EXTRACT
        self.attempted = 0
        self.failed = 0

    def setup(self) -> float:
        """Build the corpus (three times, median), compute the expected
        digests, and run the warm-up stages; return the set-up seconds not
        spent starting the session."""
        gens = []
        for _ in range(3):
            shutil.rmtree(os.path.join(self.work, "pages"), ignore_errors=True)
            t = time.perf_counter()
            with self.tracer.span("inputs.write_pages"):
                self.pages_dir = inputs.write_pages(
                    os.path.join(self.work, "pages"), self.seed, STAGE_PAGES, STAGE_FILES)
            gens.append(time.perf_counter() - t)
        self._expect()
        t = time.perf_counter()
        with self.tracer.span("warmup"):
            for _ in range(WARMUP_OPS["stage"]):
                self._stage_op("warmup")
        return median(gens) + time.perf_counter() - t

    def _expect(self) -> None:
        """Per-url text digests and the failure count from
        ``oracle.extract_document`` with the same preset."""
        import pyarrow.parquet as pq

        from ocrd_tesserocr_spark.oracle import extract_document

        t = pq.read_table(self.pages_dir, columns=["url", "html"])
        self.urls = t.column("url").to_pylist()
        self.htmls = t.column("html").to_pylist()
        self.expected, failed = {}, 0
        for url, html in zip(self.urls, self.htmls):
            rec = extract_document(html, self.params)
            self.expected[url] = _digest(rec["text"])
            failed += rec["failed"]
        self.layers["oracle.failed_docs"] = failed
        self.notes["text_digest"] = hashlib.sha256(
            "".join(u + (d or "-") for u, d in sorted(self.expected.items())).encode()
        ).hexdigest()

    def _pages(self):
        from ocrd_tesserocr_spark import sources

        with self.tracer.span("sources.read_pages"):
            return sources.read_pages(self.spark, self.pages_dir)

    def _stage_op(self, key: str | None = None) -> float:
        """One checked stage run into a fresh directory; returns its wall.
        ``key`` names the status-store read-out of the run's jobs."""
        from ocrd_tesserocr_spark import pipeline

        self.attempted += 1
        out = os.path.join(self.work, "out-%d" % self.attempted)
        ok = False
        t = time.perf_counter()
        try:
            pages = self._pages()
            t = time.perf_counter()
            with self.tracer.span("pipeline.run_stage"), self._readout(key):
                manifest = pipeline.run_stage(self.spark, pages, out, params=self.params)
            wall = time.perf_counter() - t
            ok = self._check(out, manifest)
        except Exception:  # an operation that raises is counted, not fatal
            traceback.print_exc()
            wall = time.perf_counter() - t
        finally:
            self.failed += not ok
            shutil.rmtree(out, ignore_errors=True)
        return wall

    def _check(self, out: str, manifest: dict) -> bool:
        from pyspark.sql import functions as F

        from ocrd_tesserocr_spark import pipeline

        committed = pipeline.read_manifest(out)[-1]
        got = dict(
            pipeline.read_extracted(self.spark, out)
            .select("url", F.sha2("text", 256))
            .collect()
        )
        return (
            committed == {**manifest, "stage": "extract"}
            and committed["doc_count"] == len(self.urls)
            and committed["failure_count"] == self.layers["oracle.failed_docs"]
            and got == self.expected
        )

    def measure(self) -> dict:
        walls = self._timed_ops(self._stage_op, "stage")
        return {"docs_per_s": len(self.urls) / median(walls), "op_wall_s": median(walls),
                "walls": walls}

    def trace_layers(self, untraced: dict) -> None:
        """Per-layer probes; only in the traced run."""
        from ocrd_tesserocr_spark import pipeline

        L = self.layers
        walls = self._timed_ops(lambda: self._stage_op("stage"), "stage")
        L["trace.overhead_s"] = median(walls) - untraced["op_wall_s"]
        per_op = [self._stage_counters(r) for r in self.readouts["stage"]]
        for k in per_op[0]:
            L[k] = median([c[k] for c in per_op])

        L["sources.splits"] = self._pages().rdd.getNumPartitions()
        scans = []
        for _ in range(3):
            with self._readout("scan") as r:
                t = time.perf_counter()
                with self.tracer.span("sources.scan"):
                    self._pages().select("url", "html").write.format("noop").mode("overwrite").save()
                scans.append(time.perf_counter() - t)
        L["sources.scan_s"] = median(scans)
        L["sources.input_mb"] = sql_total(r, "size of files read") / MIB

        extracts = []
        for _ in range(2):
            t = time.perf_counter()
            with self.tracer.span("pipeline.extract"):
                pipeline.extract(self.spark, self._pages(), self.params).write.format(
                    "noop").mode("overwrite").save()
            extracts.append(time.perf_counter() - t)
        L["pipeline.extract_s"] = median(extracts)
        with self.tracer.span("control"):
            control = self._control()
        L["pipeline.spark_over_control"] = len(self.urls) / L["pipeline.extract_s"] / control
        self._core_probe()

    @staticmethod
    def _stage_counters(r: dict) -> dict:
        """Layer counters of one traced stage run's read-out."""
        jobs = r["jobs"]
        py_jobs = {j for e in r["sql"] if "data sent to Python workers" in e["metrics"]
                   for j in e["jobs"]}
        write_end = max(j["complete"] for j in jobs if j["id"] in py_jobs)
        return {
            "pipeline.jobs_per_stage": len(jobs),
            "pipeline.commit_s": max(j["complete"] for j in jobs) - write_end,
            "pipeline.shuffle_write_mb": r["stages"]["shuffle_write_bytes"] / MIB,
            "pipeline.output_mb": r["stages"]["output_bytes"] / MIB,
            "pipeline.jvm_cpu_s": r["stages"]["cpu_s"],
            "pipeline.gc_s": r["stages"]["gc_s"],
            "kernel.python_run_s": sql_total(r, "time to run Python workers"),
            "kernel.to_python_mb": sql_total(r, "data sent to Python workers") / MIB,
            "kernel.from_python_mb": sql_total(r, "data returned from Python workers") / MIB,
        }

    def _control(self) -> float:
        """docs/s of ``bench_scaling.kernel_control``: ``oracle.extract_document``
        with the ``extract`` preset on a pool of ``cores`` processes, over
        ``CONTROL_REPEAT`` copies of the corpus."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ocrd_tesserocr_spark.bench_scaling import kernel_control

        path = os.path.join(self.work, "control.parquet")
        pq.write_table(pa.table({"html": pa.array(self.htmls * CONTROL_REPEAT, pa.binary())}), path)
        return kernel_control(self.cores, path, len(self.htmls) * CONTROL_REPEAT)

    def _core_probe(self) -> None:
        """One process, no Spark: ``kernel.make_extract_arrow_fn`` over Arrow
        batches of the corpus against the bare ``extract_document`` loop over
        the same documents; the difference is the Arrow build."""
        import pyarrow as pa

        from ocrd_tesserocr_spark.kernel import make_extract_arrow_fn
        from ocrd_tesserocr_spark.oracle import extract_document

        n = CORE_PROBE_DOCS
        batch = pa.record_batch([pa.array(self.urls[:n]), pa.array(self.htmls[:n], pa.binary())],
                                names=["url", "html"])
        fn = make_extract_arrow_fn(self.params)
        kern, orac = [], []
        for _ in range(2):
            t = time.perf_counter()
            with self.tracer.span("oracle.extract_document"):
                for h in self.htmls[:n]:
                    extract_document(h, self.params)
            orac.append(time.perf_counter() - t)
            t = time.perf_counter()
            with self.tracer.span("kernel.make_extract_arrow_fn"):
                for _ in fn(iter([batch])):
                    pass
            kern.append(time.perf_counter() - t)
        k, o = median(kern), median(orac)
        self.layers["kernel.docs_per_s_core"] = n / k
        self.layers["oracle.docs_per_s_core"] = n / o
        self.layers["kernel.arrow_build_share"] = (k - o) / k


class OperatorsRun(Run):
    """A fixed set of operator queries, in a seeded order per pass, each
    into a noop sink, over the sf0.01 test tables."""

    sf_dir = inputs.OPERATORS_SF

    def setup(self) -> float:
        """Build the page cache that the cache-backed queries and their
        oracles read (three times, median), then run the warm-up passes;
        return the set-up seconds not spent starting the session."""
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        from ocrd_tesserocr_spark import corpus

        queries = entry.queries()
        self.queries = {q: queries[q] for q in OPERATOR_QUERIES}
        self.documents_rows = pq.read_metadata(os.path.join(self.sf_dir, "documents.parquet")).num_rows
        gens = []
        for _ in range(3):
            cache = corpus.pages_cache_path(self.sf_dir)
            if os.path.exists(cache):
                os.remove(cache)
            t = time.perf_counter()
            with self.tracer.span("corpus.materialize_pages"):
                corpus.materialize_pages(self.sf_dir)
            gens.append(time.perf_counter() - t)
        self.rng = random.Random(self.seed)
        self.runs = dict.fromkeys(self.queries, 0)
        self.raised = dict.fromkeys(self.queries, 0)
        self.mismatched: set[str] = set()
        self.per_query: dict[str, list[float]] = {q: [] for q in self.queries}
        t = time.perf_counter()
        with self.tracer.span("warmup"):
            for _ in range(WARMUP_OPS["operators"]):
                self._pass(record=False)
        return median(gens) + time.perf_counter() - t

    def _pass(self, record: bool = True) -> float:
        """Every query once in a seeded order; returns the summed walls."""
        order = sorted(self.queries)
        self.rng.shuffle(order)
        total = 0.0
        for name in order:
            self.runs[name] += 1
            t = time.perf_counter()
            try:
                with self._readout("q:" + name), self.tracer.span("query." + name):
                    self.queries[name](self.spark, self.sf_dir).write.format(
                        "noop").mode("overwrite").save()
            except Exception:  # an operation that raises is counted, not fatal
                traceback.print_exc()
                self.raised[name] += 1
            wall = time.perf_counter() - t
            total += wall
            if record:
                self.per_query[name].append(wall)
        return total

    def measure(self) -> dict:
        passes = self._timed_ops(self._pass, "operators")
        self.check()
        return {"docs_per_s": self.documents_rows / median(passes), "passes": passes,
                "walls": [w for ws in self.per_query.values() for w in ws]}

    @property
    def attempted(self) -> int:
        return sum(self.runs.values())

    @property
    def failed(self) -> int:
        """Runs that raised, and every run of a query whose rows mismatch."""
        return sum(self.runs[q] if q in self.mismatched else self.raised[q] for q in self.runs)

    def check(self) -> None:
        """Each query's rows against its DuckDB twin, compared as
        ``tools/check_parity.py`` does.  The twins are the texts
        ``oracle_sql()`` serves, taken from ``operators.all_queries()``:
        ``oracle_sql()`` itself first builds caches from a test-data
        directory outside the repository."""
        import duckdb

        from ocrd_tesserocr_spark.operators import all_queries
        from tools.check_parity import TABLES

        _, oracles = all_queries()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, self.sf_dir, t))
            for name in self.queries:
                with self.tracer.span("check." + name):
                    ok = frames_match(self.queries[name](self.spark, self.sf_dir).toPandas(),
                                      con.sql(oracles[name]).df())
                if not ok:
                    self.mismatched.add(name)
        finally:
            con.close()

    def trace_layers(self, untraced: dict) -> None:
        L = self.layers
        before = {q: len(w) for q, w in self.per_query.items()}
        self.readouts = {}
        passes = self._timed_ops(self._pass, "operators")
        L["trace.overhead_s"] = median(passes) - median(untraced["passes"])
        traced = {q: w[before[q]:] for q, w in self.per_query.items()}
        for q, ws in traced.items():
            L["operators.%s_s" % q] = median(ws)
        L["operators.total_s"] = median(passes)
        L["operators.query_p50_s"] = median([w for ws in traced.values() for w in ws])
        reads = [r for k, rs in self.readouts.items() if k.startswith("q:") for r in rs]
        n_pass = len(passes)
        L["operators.jobs"] = sum(len(r["jobs"]) for r in reads) / n_pass
        L["operators.shuffle_write_mb"] = sum(
            r["stages"]["shuffle_write_bytes"] for r in reads) / n_pass / MIB


def frames_match(spark_df, duck_df) -> bool:
    """The parity rule of ``tools/check_parity.py``: same columns, dtype
    kinds and row count, and equal sorted values."""
    import pandas as pd

    from tools.check_parity import normalize

    a, b = normalize(spark_df), normalize(duck_df)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    if [d.kind for d in a.dtypes] != [d.kind for d in b.dtypes]:
        return False
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
    except AssertionError:
        return False
    return True
