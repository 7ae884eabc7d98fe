"""Crawl workloads: inputs from a seed, set-up, the closed round loop,
correctness gates and the end-to-end metrics.

The loop is closed with a single driver: round r+1 starts only after
round r has committed. A *pass* is one crawl on a freshly set-up
warehouse; a run measures whole passes until ``--seconds`` have
elapsed (at least one).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

import gates

BULK_BUDGET = 8192
SITE_SEED = 42        # the corpus and host policy are fixed site data
COLD_HOST_URL = "https://cold"
BACKLOG_SEQ = 1_000_000_000   # parked rows queue after every seed
POLICY_SCHEMA = ("host string, crawl_delay double, max_per_round int, "
                 "robots_disallow array<string>")


@dataclass(frozen=True)
class Shape:
    """One workload's input sizes and crawl shape."""
    name: str
    n_pages: int
    n_hosts: int
    n_seeds: int
    rounds: int
    aged: bool = False
    n_backlog: int = 0          # parked pending rows on zero-budget hosts
    n_cold_hosts: int = 0


SHAPES = {
    "crawl_bulk": Shape("crawl_bulk", 1500, 128, 192, 1),
    "crawl_aged": Shape("crawl_aged", 1500, 128, 192, 1, aged=True,
                        n_backlog=50_000, n_cold_hosts=3000),
}


@dataclass
class RunResult:
    correct: bool
    attempted: int
    failed: int
    metrics: dict[str, tuple[float, str]]


@dataclass
class PassResult:
    walls: list[float] = field(default_factory=list)
    cpus: list[float] = field(default_factory=list)
    round_metrics: list[dict] = field(default_factory=list)
    raised: bool = False
    failed_rounds: set[int] = field(default_factory=set)
    stored_bytes_per_url: float = 0.0

    @property
    def urls(self) -> int:
        return sum(m["scheduled"] + m["articles_scraped"]
                   for m in self.round_metrics)

    @property
    def attempted(self) -> int:
        return len(self.walls) + (1 if self.raised else 0)


class RssWatch:
    """Peak resident memory of this process's descendants (the driver
    JVM and the Python workers it forks), sampled from /proc in a
    background thread. Each process counts its proportional set size,
    so pages the forked workers share are counted once."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _descendants() -> list[int]:
        me = os.getpid()
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            parent[int(d)] = int(raw[raw.rindex(")") + 2:].split()[1])
        out = []
        for pid, ppid in parent.items():
            while ppid and ppid != me and ppid in parent:
                ppid = parent[ppid]
            if ppid == me:
                out.append(pid)
        return out

    def _sample_kb(self) -> int:
        total = 0
        for pid in self._descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f
                                  if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample_kb())
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def seeds_text(seed: int, shape: Shape) -> str:
    """The seed list of one seed: ``shape.n_seeds`` corpus pages drawn
    by ``seed``, in thirds: bare URLs (fetched only), strict-JSON
    ``PARSE`` lines (parsed under the parser their URL selects) and
    strict-JSON link-expansion lines that force a parser on what they
    discover, so one round runs the fetch join, the parse UDFs and
    link expansion."""
    from web_scrapers_python_spark.sources import datagen as G
    pick = random.Random(seed).sample(range(shape.n_pages), shape.n_seeds)
    lines = ["# perfbench seeds", ""]
    for k, i in enumerate(pick):
        u = G.url_of(SITE_SEED, i, shape.n_hosts)
        lines.append([
            u,
            '{"url": "%s", "label": "PARSE"}' % u,
            '{"url": "%s", "label": "a", "parser": "generic-news"}' % u,
        ][k % 3])
    return "\n".join(lines) + "\n"


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM, the Python daemon and its workers; workers that exited
    count through their parent's reaped-children time)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = sum(os.times()[:2])
    for pid in RssWatch._descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        total += sum(int(x) for x in raw[raw.rindex(")") + 2:].split()[11:15]) / tick
    return total


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def du_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under path."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


class Workload:
    """Inputs and set-up of one workload for one seed."""

    def __init__(self, spark, shape: Shape, seed: int, run_dir: str):
        import bench
        from web_scrapers_python_spark.plans.engine import CrawlConfig
        from web_scrapers_python_spark.sources import datagen as G

        self.spark, self.shape, self.seed = spark, shape, seed
        self.run_dir = run_dir
        self._n_wh = 0
        # the corpus is the fixed web the crawl runs on: synthesized
        # once per checkout (input generation, untimed) and cached
        self._corpus = bench.cached_pages(spark, shape.n_pages,
                                          shape.n_hosts, SITE_SEED)
        # (read before anything is cached: a cached read names no files)
        self.corpus_files = sorted(unquote(urlparse(f).path)
                                   for f in self._corpus.inputFiles())
        self.seeds_path = os.path.join(run_dir, "seeds.txt")
        with open(self.seeds_path, "w") as f:
            f.write(seeds_text(seed, shape))
        # --seed picks the seed list; the host policy (budgets, robots
        # rules) stays the one bench.py crawls under, so per-round URL
        # counts stay comparable across seeds
        rows = G.host_policy_rows(SITE_SEED, shape.n_hosts)
        if shape.aged:
            rows += [{"host": f"cold{j}.example.com", "crawl_delay": 86400.0,
                      "max_per_round": 0, "robots_disallow": []}
                     for j in range(shape.n_cold_hosts)]
            self.cfg = CrawlConfig(n_salts=4)
        else:
            for r in rows:
                r["max_per_round"] = BULK_BUDGET
            self.cfg = CrawlConfig(n_salts=4, default_budget=BULK_BUDGET)
        self.policy_rows = rows
        self.policy = spark.createDataFrame(rows, POLICY_SCHEMA)
        self.pages = None

    def expected_content(self, oracle) -> dict[str, str | None]:
        """url -> the article content the gates expect: ``pages.text``,
        or where that is null (the URL selects no parser by itself and
        its seed forced one) the simulator's article."""
        urls, texts = gates.read_columns(self.corpus_files, ["url", "text"])
        return {u: t if t is not None else oracle.content.get(u)
                for u, t in zip(urls, texts)}

    def load_corpus(self) -> float:
        """Read and cache the corpus in the partitions it was written in
        (one per core); returns the seconds it took. At this size the
        three per core of ``bench.py`` only add tasks to every round."""
        t0 = time.perf_counter()
        self.pages = self._corpus.cache()
        self.pages.count()
        return time.perf_counter() - t0

    def setup(self):
        """Bootstrap a fresh warehouse. Returns (engine, catalog,
        warehouse dir, seconds)."""
        from web_scrapers_python_spark.plans.engine import CrawlEngine
        from web_scrapers_python_spark.sources.catalog import SnapshotCatalog
        from web_scrapers_python_spark.sources.seeds import read_seeds

        self._n_wh += 1
        wh = os.path.join(self.run_dir, f"wh{self._n_wh}")
        t0 = time.perf_counter()
        cat = SnapshotCatalog(self.spark, wh)
        eng = CrawlEngine(self.spark, self.pages, self.policy, cat, self.cfg)
        seeds = read_seeds(self.spark, self.seeds_path)
        if self.shape.aged:
            seeds = seeds.unionByName(self._backlog(seeds.schema))
        eng.bootstrap(seeds)
        return eng, cat, wh, time.perf_counter() - t0

    def _backlog(self, schema):
        """The aged crawl's history: URLs on zero-budget hosts that the
        bootstrap enqueues after every seed, so they enter the seen log
        and stay parked in the frontier (as ``bench.run_state_probe``
        and ``bench.run_pending_probe`` age a crawl)."""
        from pyspark.sql import functions as F
        s = self.shape
        rows = self.spark.range(s.n_backlog).select(
            F.concat(F.lit(COLD_HOST_URL),
                     F.pmod(F.col("id"), F.lit(s.n_cold_hosts)).cast("string"),
                     F.lit(".example.com/p/"), F.col("id").cast("string"))
            .alias("url"),
            F.lit("PARSE").alias("label"),
            F.lit(None).alias("parser"),
            F.lit(0).alias("priority"),
            (F.lit(BACKLOG_SEQ) + F.col("id")).alias("seq"))
        return rows.select(*[F.col(f.name).cast(f.dataType) for f in schema])



def run_pass(wl: Workload, eng, tracer=None) -> PassResult:
    """Closed round loop on one set-up warehouse."""
    out = PassResult()
    for r in range(wl.shape.rounds):
        c0 = tree_cpu_s()
        try:
            if tracer is not None:
                with tracer.round(r) as span:
                    m = eng.run_round(r)
                wall = span.wall
            else:
                t0 = time.perf_counter()
                m = eng.run_round(r)
                wall = time.perf_counter() - t0
        except Exception:
            traceback.print_exc()
            out.raised = True
            out.failed_rounds.add(r)
            break
        out.walls.append(wall)
        out.cpus.append(tree_cpu_s() - c0)
        out.round_metrics.append(m)
    return out


def check_pass(wl: Workload, cat, wh: str, res: PassResult, oracle,
               expected: dict[str, str | None]) -> None:
    """Correctness gates and storage size, outside every timed section.
    Mismatching rounds land in ``res.failed_rounds``."""
    if res.raised:
        return
    obs = gates.observe(cat, res.round_metrics, expected, COLD_HOST_URL)
    bad = gates.compare(obs, oracle, len(res.walls))
    for r, why in sorted(bad.items()):
        log(f"round {r} failed its check: {why}")
    res.failed_rounds |= set(bad)
    # merged seen rows: the crawl's own plus the backlog's, which are
    # distinct by construction
    n_seen = len(obs.seen) + wl.shape.n_backlog
    res.stored_bytes_per_url = du_bytes(wh)[0] / max(n_seen, 1)


def measure_pass(wl: Workload, oracle, expected: dict[str, str | None],
                 traced: bool = False):
    """Set up a fresh warehouse, crawl it, check it and delete it.
    Returns (pass result, set-up seconds, per-layer metrics or None)."""
    eng, cat, wh, setup_s = wl.setup()
    tracer = None
    if traced:
        import tracing
        tracer = tracing.Tracer(wl.spark, wh)
        tracer.install()
    try:
        res = run_pass(wl, eng, tracer)
    finally:
        if tracer is not None:
            tracer.uninstall()
    t0 = time.perf_counter()
    check_pass(wl, cat, wh, res, oracle, expected)
    layers = tracer.metrics(res, cat) if tracer is not None else None
    log(("traced " if traced else "") + f"pass: set-up {setup_s:.1f}s, "
        "rounds " + " ".join(f"{w:.1f}s ({c:.1f} CPU-s)"
                             for w, c in zip(res.walls, res.cpus))
        + f", checks {time.perf_counter() - t0:.1f}s")
    shutil.rmtree(wh, ignore_errors=True)
    return res, setup_s, layers


def run_workload(spark, shape: Shape, seed: int, seconds: float,
                 trace: bool, run_dir: str, start_s: float,
                 rss: RssWatch) -> RunResult:
    t0 = time.perf_counter()
    wl = Workload(spark, shape, seed, run_dir)
    load_s = wl.load_corpus()
    oracle = gates.oracle_for(wl)
    expected = wl.expected_content(oracle)
    log(f"session {start_s:.1f}s, inputs {time.perf_counter() - t0:.1f}s "
        f"(corpus load {load_s:.1f}s)")
    if trace:
        return _traced_run(wl, oracle, expected)

    passes: list[PassResult] = []
    setups: list[float] = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        res, setup_s, _ = measure_pass(wl, oracle, expected)
        passes.append(res)
        setups.append(setup_s)
        if res.raised:
            break
    cpus = [c for p in passes for c in p.cpus]
    ok = [p for p in passes if p.walls]
    metrics = {
        "setup_s": (start_s + load_s + statistics.median(setups), "s"),
        "urls_per_cpu_s": (sum(p.urls for p in passes)
                           / max(sum(cpus), 1e-9), "1/s"),
        "round_cpu_s": (statistics.median(cpus) if cpus else 0.0, "s"),
        "stored_bytes_per_url": (statistics.median(
            p.stored_bytes_per_url for p in ok) if ok else 0.0, "B"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    attempted = sum(p.attempted for p in passes)
    failed = sum(len(p.failed_rounds) for p in passes)
    return RunResult(failed == 0, attempted, failed, metrics)


def _traced_run(wl: Workload, oracle, expected) -> RunResult:
    """One traced pass, from the same cold driver as an untraced run's
    pass, so that its layer times add up to what an untraced run's
    rounds cost."""
    res, _, metrics = measure_pass(wl, oracle, expected, traced=True)
    failed = len(res.failed_rounds)
    return RunResult(failed == 0, res.attempted, failed, metrics)
