"""Per-layer tracing of crawl rounds, from the benchmark's side only.

``Tracer.install`` wraps the engine's layer entry points at run time
(no package source is edited):

- ``plans.engine.assign_global_seq`` -> span ``sequence`` (it also
  materializes the cached ``dedup_against_seen`` and link-expansion
  chain it is given);
- ``SnapshotCatalog.write_snapshot`` / ``overwrite_shards`` -> span
  ``catalog.<table>``;
- ``SnapshotCatalog.commit_round`` -> span ``catalog.commit``.

``Tracer.round`` opens the root span ``engine`` around one
``run_round`` call. Every span runs its Spark jobs under a job group of
its own, so after the round the jobs, tasks, CPU, GC, shuffle and spill
of each span are read back from Spark's status store. Python-UDF time
comes from ``spark.sql.pyspark.udf.profiler=perf``, cleared and read
around the two spans that run the engine's pandas UDFs alone: the
sequencer (link extraction) and the articles write (parsing).

Spans are kept in memory; ``metrics`` turns them into the per-layer
metrics after the pass. The time the wrappers spend on their own
bookkeeping inside a round is summed as the tracer's overhead.
"""

from __future__ import annotations

import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import crawl

TABLES = ("articles", "frontier", "frontier_archive", "seen",
          "content_history", "quarantine", "weibo_posts", "round_metrics")
SPARK_SPANS = ("engine", "sequence", "catalog.articles", "catalog.frontier",
               "catalog.seen")


@dataclass
class Span:
    name: str
    t0: float
    t1: float
    thread: int


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_b: int = 0
    spill_b: int = 0
    heaviest_stage: tuple[int, int, int] | None = None  # (run ms, id, attempt)


@dataclass
class RoundTrace:
    r: int
    prefix: str
    thread: int
    wall: float = 0.0
    t0: float = 0.0
    spans: list[Span] = field(default_factory=list)
    groups: dict[str, GroupStats] = field(default_factory=dict)
    udf_s: dict[str, float] = field(default_factory=dict)
    seq_stats: dict = field(default_factory=dict)
    task_skew: float | None = None
    bytes_written: int = 0
    files_written: int = 0


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    def __init__(self, spark, warehouse: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.warehouse = warehouse
        self.rounds: list[RoundTrace] = []
        self.own_s = 0.0            # wrapper bookkeeping inside rounds
        self._cur: RoundTrace | None = None
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        jvm = self.sc._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    # -- wrapping ------------------------------------------------------------
    def install(self) -> None:
        from web_scrapers_python_spark.plans import engine as E
        from web_scrapers_python_spark.sources.catalog import SnapshotCatalog
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        tracer = self

        def patch(owner, name, wrapper_of):
            orig = getattr(owner, name)
            self._saved.append((owner, name, orig))
            setattr(owner, name, wrapper_of(orig))

        def seq_wrapper(orig):
            def assign_global_seq(*a, **kw):
                out = tracer._span("sequence", orig, a, kw, udf="sequence")
                if tracer._cur is not None and isinstance(out, tuple):
                    tracer._cur.seq_stats = dict(out[1])
                return out
            return assign_global_seq

        def write_wrapper(orig):
            def wrapped(cat, table, *a, **kw):
                return tracer._span(
                    f"catalog.{table}", orig, (cat, table) + a, kw,
                    udf="parse" if table == "articles" else None)
            return wrapped

        def commit_wrapper(orig):
            def commit_round(cat, *a, **kw):
                return tracer._span("catalog.commit", orig, (cat,) + a, kw)
            return commit_round

        patch(E, "assign_global_seq", seq_wrapper)
        patch(SnapshotCatalog, "write_snapshot", write_wrapper)
        patch(SnapshotCatalog, "overwrite_shards", write_wrapper)
        patch(SnapshotCatalog, "commit_round", commit_wrapper)

    def uninstall(self) -> None:
        while self._saved:
            owner, name, orig = self._saved.pop()
            setattr(owner, name, orig)
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")

    def _udf_seconds(self) -> float:
        results = self.spark._profiler_collector._perf_profile_results
        return sum(st.total_tt for st in results.values() if st is not None)

    def _span(self, name, fn, args, kwargs, udf: str | None = None):
        rt = self._cur
        if rt is None:
            return fn(*args, **kwargs)
        a0 = time.perf_counter()
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"{rt.prefix}:{name}", name)
        if udf is not None:
            self.spark.profile.clear(type="perf")
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            if udf is not None:
                with self._lock:
                    rt.udf_s[udf] = rt.udf_s.get(udf, 0.0) \
                        + self._udf_seconds()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                rt.spans.append(Span(name, t0, t1, threading.get_ident()))
                self.own_s += (t0 - a0) + (time.perf_counter() - t1)

    @contextmanager
    def round(self, r: int):
        rt = RoundTrace(r, f"perfbench-{id(self)}-r{r}",
                        threading.get_ident())
        b0, f0 = crawl.du_bytes(self.warehouse)
        self.sc.setJobGroup(f"{rt.prefix}:engine", "engine")
        self._cur = rt
        rt.t0 = time.perf_counter()
        try:
            yield rt
        finally:
            rt.wall = time.perf_counter() - rt.t0
            self._cur = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        # bookkeeping, outside the round's wall
        b1, f1 = crawl.du_bytes(self.warehouse)
        rt.bytes_written, rt.files_written = b1 - b0, f1 - f0
        self._read_status(rt)
        self.rounds.append(rt)

    # -- Spark status store ----------------------------------------------------
    def _read_status(self, rt: RoundTrace) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        names = {"engine"} | {s.name for s in rt.spans}
        owner: dict[int, tuple[int, str]] = {}     # stage -> (job, span)
        for name in sorted(names):
            st = rt.groups.setdefault(name, GroupStats())
            for jid in self.sc.statusTracker().getJobIdsForGroup(
                    f"{rt.prefix}:{name}"):
                job = self.store.job(jid)
                st.jobs += 1
                st.tasks += job.numCompletedTasks()
                ids = job.stageIds()
                for i in range(ids.size()):
                    sid = ids.apply(i)
                    if sid not in owner or owner[sid][0] > jid:
                        owner[sid] = (jid, name)
        for sid, (_, name) in owner.items():
            st = rt.groups[name]
            attempts = self.store.stageData(
                sid, False, self._no_status, False, self._no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                st.cpu_s += sd.executorCpuTime() / 1e9
                st.gc_s += sd.jvmGcTime() / 1e3
                st.shuffle_read_b += sd.shuffleReadBytes()
                st.shuffle_b += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                st.spill_b += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                run_ms = sd.executorRunTime()
                if st.heaviest_stage is None or run_ms > st.heaviest_stage[0]:
                    st.heaviest_stage = (run_ms, sid, sd.attemptId())
        heavy = rt.groups["engine"].heaviest_stage
        if heavy is not None:
            tasks = self.store.taskList(heavy[1], heavy[2], 100_000)
            ms = [tasks.apply(i).taskMetrics().get().executorRunTime()
                  for i in range(tasks.size())
                  if tasks.apply(i).taskMetrics().isDefined()]
            if ms:
                rt.task_skew = max(ms) / max(statistics.median(ms), 1.0)

    # -- metrics -------------------------------------------------------------
    def metrics(self, res, cat) -> dict[str, tuple[float, str]]:
        """Per-layer metrics of the traced pass. Times and counts are
        pass totals unless the name says otherwise; ``engine.round_s``,
        ``engine.jobs``, ``engine.tasks``, ``politeness.task_skew`` and
        ``catalog.pool_overlap`` are medians over rounds."""
        from pyspark.sql import functions as F
        rounds, rm = self.rounds, res.round_metrics
        m: dict[str, tuple[float, str]] = {}

        def total(fn) -> float:
            return float(sum(fn(rt) for rt in rounds))

        def med(vals) -> float:
            vals = [v for v in vals if v is not None]
            return float(statistics.median(vals)) if vals else 0.0

        def span_s(rt, pred) -> float:
            return sum(s.t1 - s.t0 for s in rt.spans if pred(s.name))

        def self_s(rt) -> float:
            return rt.wall - _union_len([(s.t0, s.t1) for s in rt.spans])

        def group(rt, name) -> GroupStats:
            return rt.groups.get(name, GroupStats())

        m["engine.round_s"] = (med(rt.wall for rt in rounds), "s")
        m["engine.self_s"] = (total(self_s), "s")
        m["engine.jobs"] = (med(sum(g.jobs for g in rt.groups.values())
                                for rt in rounds), "count")
        m["engine.tasks"] = (med(sum(g.tasks for g in rt.groups.values())
                                 for rt in rounds), "count")

        m["sequence.s"] = (total(lambda rt: span_s(
            rt, lambda n: n == "sequence")), "s")
        m["sequence.jobs"] = (total(lambda rt: group(rt, "sequence").jobs),
                              "count")
        m["sequence.shuffle_read_b"] = (total(
            lambda rt: group(rt, "sequence").shuffle_read_b), "B")
        seq_udf = total(lambda rt: rt.udf_s.get("sequence", 0.0))
        m["sequence.udf_s"] = (seq_udf, "s")

        cand = total(lambda rt: rt.seq_stats.get("n_all", 0))
        fresh = total(lambda rt: rt.seq_stats.get("n", 0))
        m["dedup.candidates"] = (cand, "count")
        m["dedup.fresh"] = (fresh, "count")
        m["dedup.fresh_ratio"] = (fresh / cand if cand else 0.0, "ratio")

        m["politeness.scheduled"] = (float(sum(x["scheduled"] for x in rm)),
                                     "count")
        m["politeness.blocked"] = (float(sum(x["robots_blocked"] for x in rm)),
                                   "count")
        m["politeness.task_skew"] = (med(rt.task_skew for rt in rounds),
                                     "ratio")

        articles = float(sum(x["articles_scraped"] for x in rm))
        parse_rows = float(
            cat.read("frontier_archive")
            .where((F.col("state") == "fetched") & (F.col("label") == "PARSE"))
            .count())
        m["parse.udf_s"] = (total(lambda rt: rt.udf_s.get("parse", 0.0)), "s")
        m["parse.rows"] = (parse_rows, "count")
        m["parse.yield"] = (articles / parse_rows if parse_rows else 0.0,
                            "ratio")

        m["links.udf_s"] = (seq_udf, "s")
        m["links.discovered"] = (float(sum(x["links_discovered"] for x in rm)),
                                 "count")

        for t in TABLES:
            m[f"catalog.write_s.{t}"] = (total(lambda rt: span_s(
                rt, lambda n: n == f"catalog.{t}")), "s")
        m["catalog.commit_s"] = (total(lambda rt: span_s(
            rt, lambda n: n == "catalog.commit")), "s")
        m["catalog.bytes_written"] = (total(lambda rt: rt.bytes_written), "B")
        m["catalog.files_written"] = (total(lambda rt: rt.files_written),
                                      "count")

        def overlap(rt):
            pooled = [s for s in rt.spans if s.thread != rt.thread]
            if not pooled:
                return None
            window = max(s.t1 for s in pooled) - min(s.t0 for s in pooled)
            return sum(s.t1 - s.t0 for s in pooled) / max(window, 1e-9)
        m["catalog.pool_overlap"] = (med(overlap(rt) for rt in rounds),
                                     "ratio")

        for name in SPARK_SPANS:
            m[f"{name}.cpu_s"] = (total(lambda rt: group(rt, name).cpu_s), "s")
            m[f"{name}.gc_s"] = (total(lambda rt: group(rt, name).gc_s), "s")
            m[f"{name}.shuffle_b"] = (total(
                lambda rt: group(rt, name).shuffle_b), "B")
            m[f"{name}.spill_b"] = (total(lambda rt: group(rt, name).spill_b),
                                    "B")
        m["trace.overhead"] = (self.own_s / max(total(lambda rt: rt.wall),
                                                1e-9), "ratio")
        return m
