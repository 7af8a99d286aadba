"""Shared set-up for every workload: Spark session, seeded corpus, bulk
index build, index open, plus the size and memory measurements.

Set-up runs the library's public entry points (``get_spark``,
``synth_code_corpus``, ``build_index``, ``Index``) exactly as a user
would; when the run is traced, each call is wrapped in a span and the
tokenizer is additionally timed on its own through a ``noop`` write of
``extract_postings``.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import time

#: Spark parallelism of every run: ``local[CPUS]``.
CPUS = 4
#: the field every generated query searches
FIELD = "content"
#: bulk corpus of every workload: documents, and ``sym_<i>`` rare symbols
N_DOCS = 1000
RARE_VOCAB = 1000


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def segment_bytes(index_dir: str) -> int:
    """Bytes of the tables every live segment of the manifest points at
    (superseded segment dirs that linger for the reader grace window and
    old tombstone generations are not part of the index)."""
    from whoosh_spark.index import read_manifest

    total = 0
    for s in read_manifest(index_dir).segments:
        seg = s.path(index_dir)
        for t in ("postings", "docs", "termstats", "lengths"):
            total += dir_bytes(os.path.join(seg, f"{t}.parquet"))
        if s.has_deletes:
            total += dir_bytes(os.path.join(seg, s.deletes_filename()))
    return total


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Run:
    """State of one benchmark invocation: arguments, the Spark session,
    the tracer and job counter, and the workload's set-up results."""

    def __init__(self, workload: str, seed: int, work_dir: str, tracer,
                 loop_s: float):
        self.workload = workload
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = tracer
        #: length of the measured loop, in seconds
        self.loop_s = loop_s
        self.index_dir = os.path.join(work_dir, f"index-{workload}")
        self.spark = None
        self.counter = None
        self.setup: dict = {}
        self.corpus = None

    # ------------------------------------------------------------ set-up

    def start(self) -> None:
        """Spark session + seeded corpus + bulk build + index open."""
        from tracing import SparkCounter

        t_setup = time.perf_counter()
        tr = self.tracer
        with tr.span("session.start") as sp:
            from whoosh_spark.session import get_spark

            local = os.path.join(self.work_dir, "spark-local")
            os.makedirs(local, exist_ok=True)
            self.spark = get_spark(
                f"perfbench-{self.workload}", master=f"local[{CPUS}]",
                shuffle_partitions=CPUS,
                extra_conf={
                    # small inputs: a 1 GB heap fills and stays full, so the
                    # JVM's high-water RSS does not swing with when it grew
                    "spark.driver.memory": "1g",
                    "spark.local.dir": local,
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
                    # job/stage records the traced run reads back at the end
                    "spark.ui.retainedJobs": "20000",
                    "spark.ui.retainedStages": "40000",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session.start_s"] = _dur(sp)
        self.counter = SparkCounter(self.spark, tr.enabled)

        from pyspark.sql import functions as F

        from whoosh_spark.corpus import synth_code_corpus

        with tr.span("corpus.generate") as sp:
            self.corpus = synth_code_corpus(
                self.spark, N_DOCS, seed=self.seed, rare_vocab=RARE_VOCAB
            ).persist()
            source = self.corpus.select("doc_id", "path", FIELD).toPandas().sort_values("doc_id")
        #: (doc_id, path, content) rows of the corpus, the query generator's input
        self.source = source
        self.docs = source[FIELD].tolist()
        self.content_bytes = sum(len(c.encode()) for c in self.docs)
        self.setup["corpus.generate_s"] = _dur(sp)

        from whoosh_spark.index import Index, build_index, extract_postings
        from whoosh_spark.schema import code_corpus_schema

        self.schema = code_corpus_schema()
        if tr.enabled:
            with tr.span("analysis.tokenize") as sp:
                (extract_postings(self.corpus, self.schema)
                 .write.format("noop").mode("overwrite").save())
            self.setup["analysis.tokenize_s"] = _dur(sp)

        shutil.rmtree(self.index_dir, ignore_errors=True)
        t = time.perf_counter()
        with tr.span("index.build") as sp, self.counter.count("build", threads=True):
            manifest = build_index(self.spark, self.corpus, self.schema,
                                   self.index_dir, sha_col=FIELD)
        build_s = time.perf_counter() - t
        self.setup["index.build.segment_s"] = build_s
        self.build_docs_per_s = N_DOCS / build_s
        seg = manifest.segments[0]
        self.lexicon_terms = seg.field_term_counts.get(FIELD, 0)
        for table, nbytes in seg.lineage["metrics"]["bytes"].items():
            self.setup[f"index.build.{table}_bytes"] = nbytes
        self.index_bytes_per_input_byte = segment_bytes(self.index_dir) / self.content_bytes

        with tr.span("index.catalog.open") as sp:
            self.ix = Index(self.spark, self.index_dir)
            self.ix.term_stats(FIELD, ["def"])
        self.setup["index.catalog.open_ms"] = _dur(sp) * 1e3
        if tr.enabled:
            self.setup["analysis.postings_rows"] = int(
                self.ix.termstats().agg(F.sum("df")).collect()[0][0])
        self.t_setup_start = t_setup

    def finish_setup(self) -> None:
        """Called by the workload once its warm-up is done."""
        self.setup_s = time.perf_counter() - self.t_setup_start

    def stop(self) -> None:
        """Stop Spark and wait for the driver JVM (and with it the Python
        workers it forked) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)

    # ----------------------------------------------------------- metrics

    def _jvm_pid(self) -> int:
        return self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def peak_rss_mb(self) -> float:
        """High-water RSS of the driver Python process plus that of the
        largest Spark Python worker, where analysis and the batch kernels
        run. Taken while the session is up, before ``stop``."""
        workers = [_hwm_mb(p) for p in _descendants(self._jvm_pid())
                   if _comm(p).startswith("python")]
        driver = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return driver + max(workers, default=0.0)

    def jvm_peak_rss_mb(self) -> float:
        """High-water RSS of the driver JVM. It follows the heap-sizing policy
        and Arrow's off-heap buffers more than the program's working set,
        and moved by ±15% between runs of the same code."""
        return _hwm_mb(self._jvm_pid())


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _hwm_mb(pid: int) -> float:
    """VmHWM (high-water resident set) of a process, in MB; 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _descendants(root: int) -> list[int]:
    """Pids of every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the field after "(comm)" is the state, then the parent pid
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _dur(span) -> float:
    """Seconds of a finished span; untraced runs time the block directly."""
    return span["end"] - span["start"] if span else 0.0
