"""The crawl engine: one DataFrame job per scheduling round, snapshot
checkpoints between rounds (SURVEY §3.1 Spark lifecycle, §2.10 E3/E5).

Per round r (all declarative; Catalyst/AQE pick physical strategies):

  frontier(pending) ─ robots split (broadcast host_policy)
      → per-host politeness top-B (salted window, W2)
      → fetch = inner join pages ⋈ scheduled (size-gated broadcast, J4)
      → phase split on label (E2): discover | parse
      → discover: link expansion (E1) → first-wins (J2)
                  → exact flag-mode anti-join vs seen (J1)
                  → deterministic seq assignment (O1)
      → parse: parser dispatch (F9/P3) → pandas-UDF parsers (P1)
               → AI analysis stage (P4/P5)
      → writes: articles append, seen EVENT append (J3), pending
                frontier SHARD-SCOPED overwrite (touched host buckets
                only) + terminal-row archive append (sharded by state),
                round_metrics (A1/A4) → atomic round commit (E5)

State layout is O(delta)-per-round by construction:

- ``seen`` is an append-only EVENT LOG. Each round appends one insert
  event per fresh discovery and one fetch event per fetched URL; the
  merged view (min/max/sum per url_hash — ``merged_seen``) IS the
  reference's MERGE-upserted seen table (cassandra_manager.py:317-329),
  and a periodic compaction snapshot (every ``compact_seen_every``
  rounds) bounds log depth. No per-round O(|seen|) rewrite.
- ``frontier`` holds ONLY pending rows (the live queue), physically
  sharded by ``host_bucket``. A round rewrites ONLY the buckets it
  touched (scheduled, blocked, recrawled, or receiving discoveries) —
  every other bucket's data dir is carried forward by reference, so
  the commit is O(round delta) even when pending is budget-starved and
  orders of magnitude larger than a round's batch. Terminal rows
  (fetched / failed / robots_blocked) move to the append-only
  ``frontier_archive``, sharded by state so per-state round stats are
  parquet-footer reads, not jobs.

On Iceberg these map to: seen = append snapshots + a MERGE-on-read
view + partition-filtered rewrite_data_files compaction (rotating
bucket groups); frontier = overwritePartitions; archive = append
snapshots on a state-partitioned table.

The reference's orchestrator (orchestrator.py:419-497) collapses into
``run``'s while-loop; K8s job retries (375-405) become the
``retry_count < max_retries`` re-queue of failed fetches.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import history as HY
from ..operators import links as L
from ..operators import parse as P
from ..operators import politeness as W
from ..operators.sequence import assign_global_seq
from ..sources.catalog import SnapshotCatalog

FRONTIER_COLS = [
    "url", "url_hash", "host", "host_bucket", "depth", "priority",
    "parser", "label", "discovered_from", "seq", "round", "state",
    "retry_count",
]

SEEN_SCHEMA = ("url_hash string, url string, host_bucket int, "
               "first_round int, last_round int, scrape_count int, "
               "last_scrape_round int, last_dup_round int, "
               "last_fail_round int, status string")
SEEN_COLS = ["url_hash", "url", "host_bucket", "first_round",
             "last_round", "scrape_count", "last_scrape_round",
             "last_dup_round", "last_fail_round", "status"]


def merged_seen(events: DataFrame) -> DataFrame:
    """Latest-state view over the seen event log — exactly the
    reference's upserted url_tracker (J3). Insert events carry
    (first_round=last_round=enqueue round, scrape_count=0); fetch
    events carry (first_round=NULL, last_round=fetch round,
    scrape_count=1, last_scrape_round=round); duplicate-detection
    events carry last_dup_round (cassandra_manager.py:454-464 sets
    status='duplicate' when a re-scrape matches the stored content
    hash); terminal fetch failures carry last_fail_round. min/max/sum
    are associative + idempotent over disjoint event sets, so
    compaction snapshots re-merge correctly.

    ``status`` reproduces the reference's one-column latest-write-wins
    ladder (url_tracker DDL cassandra_manager.py:143-153: 'pending',
    'processed'→'scraped' here, 'failed', plus 'duplicate'): the
    highest-round terminal event names the status, a duplicate beats
    the scrape it accompanied (same round — the reference writes
    'processed' then overwrites with 'duplicate'), and a LATER
    changed-content scrape flips a duplicate back to scraped exactly
    as a new store overwrites the tracker row."""
    lsr = F.max("last_scrape_round").alias("last_scrape_round")
    ldr = F.max("last_dup_round").alias("last_dup_round")
    lfr = F.max("last_fail_round").alias("last_fail_round")
    c_lsr = F.coalesce(F.col("last_scrape_round"), F.lit(-1))
    c_ldr = F.coalesce(F.col("last_dup_round"), F.lit(-1))
    c_lfr = F.coalesce(F.col("last_fail_round"), F.lit(-1))
    return (
        events.groupBy("url_hash").agg(
            F.max("url").alias("url"),
            F.max("host_bucket").alias("host_bucket"),
            F.min("first_round").alias("first_round"),
            F.max("last_round").alias("last_round"),
            F.sum("scrape_count").cast("int").alias("scrape_count"),
            lsr, ldr, lfr,
        )
        .withColumn(
            "status",
            F.when((c_lfr >= 0) & (c_lfr > c_lsr) & (c_lfr > c_ldr),
                   F.lit("failed"))
            .when((c_ldr >= 0) & (c_ldr >= c_lsr), F.lit("duplicate"))
            .when(F.col("scrape_count") > 0, F.lit("scraped"))
            .otherwise(F.lit("pending")))
        .select(*SEEN_COLS)
    )


def read_frontier_full(catalog: SnapshotCatalog,
                       pending_id: int | None = None,
                       archive_id: int | None = None) -> DataFrame:
    """Union of the live pending queue and the terminal-row archive —
    the round-1 single-table frontier view (tests/tools read this)."""
    return catalog.read("frontier", pending_id).unionByName(
        catalog.read("frontier_archive", archive_id))


@dataclass
class CrawlConfig:
    n_buckets: int = 64          # host buckets (partitioning + shard layout)
    default_budget: int = W.DEFAULT_BUDGET
    order: str = "fifo"          # 'fifo' (reference parity) | 'priority' (W1)
    n_salts: int = 0             # >0 → salted two-stage politeness window
    rediscover: bool = False     # False = reference two-phase routing
    max_retries: int = 3         # orchestrator.py:64
    max_depth: int | None = None
    max_rounds: int = 100
    # J4 physical strategy: broadcast the scheduled batch into the pages
    # join only while it is provably SMALL. Beyond the threshold the
    # hint is dropped and AQE picks the join from runtime stats (on a
    # real warehouse: sort-merge against the url_hash-bucketed pages
    # table, no pages shuffle). An unconditional broadcast of a
    # budget x hosts batch OOMs the driver at the 10^10 design point —
    # and measured on real (local-cluster) executors, even a 100k-row
    # forced broadcast is ~30% slower than letting AQE decide (the
    # driver eagerly collects+ships one exchange per phase branch), so
    # the default gate is deliberately modest.
    fetch_broadcast_rows: int = 100_000
    # every k rounds ONE GROUP of seen host buckets (bucket % groups ==
    # rotation) is compacted to its merged view via a shard-scoped
    # overwrite (Iceberg rewrite_data_files with a partition filter).
    # Rotating groups bounds log depth per bucket at groups*k rounds
    # while each compaction event costs O(seen/groups) — no full-table
    # stall, ever. seen_compact_groups=1 restores whole-table behavior.
    compact_seen_every: int = 16
    seen_compact_groups: int = 4
    # refresh crawls: re-enqueue URLs fetched exactly `recrawl_ttl`
    # rounds ago. Each round re-enqueues ONE cohort — the archive delta
    # of round r-ttl — so the cost is O(that round's fetches), never a
    # scan of the cumulative seen/archive state. Re-fetches append new
    # article versions; content_history classifies them
    # updated/duplicate against the latest stored hash.
    recrawl_ttl: int | None = None
    # debug/test hook: capture the formatted physical plan of each
    # round's fetch joins into engine.captured_plans[round] — used by
    # the bucketed-warehouse crawl test to assert the pages corpus is
    # never shuffled by the round loop. No effect on execution.
    capture_plans: bool = False

    def order_by(self) -> list:
        if self.order == "priority":
            return [F.col("priority").desc(), F.col("depth").asc(),
                    F.col("seq").asc()]
        return [F.col("seq").asc()]


class CrawlEngine:
    def __init__(self, spark: SparkSession, pages: DataFrame,
                 host_policy: DataFrame, catalog: SnapshotCatalog,
                 config: CrawlConfig | None = None):
        self.spark = spark
        self.pages = pages
        self.host_policy = host_policy
        self.catalog = catalog
        self.cfg = config or CrawlConfig()
        self._budget_cap_memo: int | None = None
        # driver-side materializations (collect/count) in the last
        # run_round call — the job-barrier budget tests assert on this
        self.last_round_collects = 0
        self.captured_plans: dict[int, dict[str, str]] = {}

    def _budget_cap(self) -> int:
        """A literal upper bound on every host's politeness budget —
        unlocks the partial WindowGroupLimit in schedule_per_host.
        Computed once per engine lifetime (host_policy is static)."""
        if self._budget_cap_memo is None:
            row = self.host_policy.agg(
                F.max("max_per_round")).collect()[0][0]
            self._budget_cap_memo = max(int(row or 0),
                                        self.cfg.default_budget)
        return self._budget_cap_memo

    # -- bootstrap -----------------------------------------------------------
    def bootstrap(self, seeds: DataFrame) -> None:
        """seeds: (url, label, parser, priority, seq) in file order.
        Seeds enter the frontier at depth 0 and the seen set at enqueue
        time (crawlee uniqueKey semantics, J2)."""
        f = (
            L.with_url_identity(seeds, self.cfg.n_buckets)
            .withColumn("depth", F.lit(0))
            .withColumn("discovered_from", F.lit(None).cast("string"))
            .withColumn("round", F.lit(0))
            .withColumn("state", F.lit("pending"))
            .withColumn("retry_count", F.lit(0))
            .select(*FRONTIER_COLS)
        )
        f = D.first_wins(f, "url_hash", "seq")
        # seq is dense 0..n-1 after first-wins? No — first-wins keeps the
        # original file-order seq, so max_seq must be measured, once.
        # frontier/archive/seen are shard-tracked from birth: pending by
        # host_bucket (round commits rewrite only touched buckets),
        # archive by terminal state (per-state round stats come from
        # parquet footers, no job), seen by host_bucket (rotating
        # per-group compaction).
        fs = self.catalog.write_snapshot("frontier", f, {"round": -1},
                                         shard_col="host_bucket")
        written = self.catalog.read("frontier")
        max_seq = written.agg(F.max("seq")).collect()[0][0] or 0
        # record max_seq in the snapshot properties so rounds never
        # rescan the frontier for it
        props = self.catalog.snapshot_properties("frontier", fs)
        props["max_seq"] = int(max_seq)
        self.catalog.set_snapshot_properties("frontier", fs, props)
        empty_archive = self.spark.createDataFrame([], written.schema)
        ars = self.catalog.write_snapshot("frontier_archive", empty_archive,
                                          {"round": -1}, shard_col="state")
        # derive seen insert events from the *written* frontier snapshot —
        # the seeds decode/identity/dedup chain runs once, not once per
        # write
        seen = written.select(
            "url_hash", "url", "host_bucket",
            F.lit(0).alias("first_round"), F.lit(0).alias("last_round"),
            F.lit(0).alias("scrape_count"),
            F.lit(None).cast("int").alias("last_scrape_round"),
            F.lit(None).cast("int").alias("last_dup_round"),
            F.lit(None).cast("int").alias("last_fail_round"),
            F.lit("pending").alias("status"),
        )
        ss = self.catalog.write_snapshot("seen", seen, {"round": -1},
                                         shard_col="host_bucket")
        self.catalog.commit_round(-1, {"frontier": fs,
                                       "frontier_archive": ars, "seen": ss})

    # -- one round -------------------------------------------------------------
    def run_round(self, r: int) -> dict:
        import time as _time
        _t0 = _time.time()
        _tm: dict[str, float] = {}

        def _mark(key: str) -> None:
            nonlocal _t0
            now = _time.time()
            _tm[key] = round(now - _t0, 3)
            _t0 = now

        cfg = self.cfg
        self.last_round_collects = 0
        # the set of host buckets this round touches: scheduled rows,
        # robots-blocked rows, recrawl cohorts, and fresh discoveries
        # all name their buckets — the frontier commit rewrites ONLY
        # these shards (O(round delta)); every other bucket's data dir
        # is carried forward by reference.
        touched_buckets: set[int] = set()
        # E5: read EVERY state table at the last complete round's
        # recorded snapshot ids — never the current pointers, which a
        # torn (crashed mid-round) commit can leave mutually
        # inconsistent. Replaying against the pinned ids also keeps
        # appends from carrying the torn round's orphaned data dirs.
        base = self.catalog.last_complete_round()
        if base is None:
            raise RuntimeError("run_round before bootstrap")
        bs = base["snapshots"]
        frontier = self.catalog.read("frontier", bs["frontier"])  # pending
        seen = self.catalog.read("seen", bs["seen"])              # event log
        max_seq = self.catalog.snapshot_properties(
            "frontier", bs["frontier"])["max_seq"]
        _mark("t_read_state")

        # refresh cohort: the rows fetched exactly ttl rounds ago,
        # read from THAT round's archive delta dir alone (one snapshot
        # lookup — O(cohort), no cumulative scan). They re-enter
        # pending with their ORIGINAL seq, so FIFO order re-crawls
        # oldest-first.
        n_recrawl = 0
        recrawl_cohort = None
        if cfg.recrawl_ttl is not None:
            due_round = r - cfg.recrawl_ttl
            due_entry = next((e for e in self.catalog.rounds()
                              if e["round"] == due_round
                              and "frontier_archive" in e["snapshots"]),
                             None)
            if due_entry is not None and due_round >= 0:
                cohort = (
                    self.catalog.read_snapshot_delta(
                        "frontier_archive",
                        due_entry["snapshots"]["frontier_archive"])
                    .where(F.col("state") == "fetched")
                    .withColumn("state", F.lit("pending"))
                    .withColumn("retry_count", F.lit(0))
                    .select(*FRONTIER_COLS)
                ).cache()
                recrawl_cohort = cohort
                crow = cohort.agg(
                    F.count("*").alias("n"),
                    F.collect_set("host_bucket").alias("bk")).collect()[0]
                self.last_round_collects += 1
                n_recrawl = int(crow["n"])
                touched_buckets |= {int(b) for b in crow["bk"]}
                if n_recrawl:
                    frontier = frontier.unionByName(cohort)

        pending = frontier
        if cfg.max_depth is not None:
            pending = pending.where(F.col("depth") <= cfg.max_depth)

        allowed, blocked = W.apply_robots(pending, self.host_policy)
        blocked = blocked.cache()
        scheduled = W.schedule_per_host(
            allowed, self.host_policy, cfg.order_by(),
            cfg.default_budget, cfg.n_salts,
            max_budget=self._budget_cap(),
        ).select(*FRONTIER_COLS).cache()

        # J4: pages ⋈ scheduled inner, split per phase BEFORE the join
        # so each branch streams html straight from the pages cache into
        # its UDF. html is NEVER cached or shuffled — caching the joined
        # rows would double-buffer the whole fetched payload
        # (memory-eviction thrash that also destroys core scaling); only
        # the narrow key set materializes. Misses (scheduled URLs absent
        # from the corpus) come from a key-level anti-join.
        is_parse = F.col("label") == "PARSE"
        is_discover = F.col("label").isNotNull() & ~is_parse
        sched_parse = scheduled.where(is_parse)
        sched_discover = scheduled.where(is_discover)

        # THE round-planning job — one collect yields the broadcast-gate
        # size, the per-phase row counts (so empty phases skip their
        # whole plan below), the robots-blocked count, AND the touched
        # host-bucket sets of both frames. Folding all of it into one
        # job matters on real executors, where each driver job barrier
        # costs ~0.3-1 s of RPC fixed cost on short rounds.
        plan_rows = (
            scheduled.select(
                F.when(is_parse, "parse").when(is_discover, "discover")
                .otherwise("none").alias("k"), "host_bucket")
            .unionByName(
                blocked.select(F.lit("blocked").alias("k"), "host_bucket"))
            .groupBy("k")
            .agg(F.count("*").alias("n"),
                 F.collect_set("host_bucket").alias("bk"))
            .collect()
        )
        self.last_round_collects += 1
        label_counts = {row["k"]: row["n"] for row in plan_rows
                        if row["k"] != "blocked"}
        n_blocked = sum(row["n"] for row in plan_rows
                        if row["k"] == "blocked")
        for row in plan_rows:
            touched_buckets |= {int(b) for b in row["bk"]}
        n_scheduled_rows = sum(label_counts.values())
        has_discover = label_counts.get("discover", 0) > 0
        _bcast = (F.broadcast if n_scheduled_rows <= cfg.fetch_broadcast_rows
                  else (lambda df: df))

        page_urls = self.pages.select("url")
        fetched = page_urls.join(
            _bcast(scheduled.select("url", "url_hash")), "url", "inner"
        ).select("url_hash").cache()
        missing = scheduled.select("url_hash").join(
            _bcast(fetched), "url_hash", "left_anti")

        parse_rows = self.pages.select("url", "html").join(
            _bcast(sched_parse), "url", "inner")
        discover_rows = self.pages.select("url", "html").join(
            _bcast(sched_discover), "url", "inner")
        if cfg.capture_plans:
            jvm = self.spark.sparkContext._jvm
            self.captured_plans[r] = {
                name: jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                for name, df in (("fetched", fetched),
                                 ("parse_rows", parse_rows))}

        # P3/P1: parser dispatch + parse. Reference routing parses only
        # label='PARSE' rows (routes.py:61-100); label-null rows are
        # fetched but neither discovered-from nor parsed (routes.py:33-39).
        parse_eff = parse_rows.withColumn(
            "parser", P.U.select_parser_id(F.col("url"), F.col("parser"))
        ).where(F.col("parser").isNotNull())
        # The articles write is a single streaming pass: html from the
        # pages cache -> fused parse UDF -> parquet. Never cache the
        # parsed rows — materializing ~GBs of article content next to
        # the pages cache causes storage eviction/spill that halves the
        # parse stage's core scaling (measured: 2x slower at 8 cores).
        # Rejected rows are derived AFTER the write from key arithmetic
        # (fetched parse keys ANTI written article keys) — no second
        # UDF pass, no cache; see quarantine below.
        # WeiboPost is a distinct schema in the reference (weibo.py:15-24
        # incl. engagement metrics) persisted as its own table, but weibo
        # html crosses the Arrow boundary ONCE: the full-struct fused UDF
        # emits the article view AND the post fields together, html is
        # dropped before the cache (the cached rows are ~KBs of text, not
        # payloads), and both the articles union and the weibo_posts
        # write read the cached result.
        weibo_full = (
            parse_eff.where(F.col("parser") == "weibo")
            .select("url", "url_hash", "parser",
                    P.parse_weibo_full_udf(F.col("html"),
                                           F.col("url")).alias("_a"))
            .cache()
        )
        articles = HY.with_store_columns(
            P.parse_articles(parse_eff, analyze=True,
                             weibo_parsed=weibo_full), r
        ).withColumn("round", F.lit(r))
        weibo_posts = (
            weibo_full.where(F.col("_a.ok").isNotNull())
            .select(
                F.col("url"),
                F.col("_a.post_id").alias("id"),
                F.col("_a.author").alias("author"),
                F.col("_a.content").alias("content"),
                F.col("_a.likes").alias("likes"),
                F.col("_a.reposts").alias("reposts"),
                F.col("_a.comments").alias("comments"),
            ).withColumn("round", F.lit(r))
        )

        # E1: link expansion from discover rows. A round with no
        # discover-labeled rows (the common steady state of two-phase
        # routing) skips the whole expansion/dedup/sequencing plan —
        # several driver jobs of pure fixed cost on provably empty data.
        children = deduped = None
        if has_discover:
            children = L.expand_links(discover_rows, cfg.n_buckets,
                                      cfg.rediscover)
            children = D.first_wins(
                children.withColumn(
                    "seq", F.col("parent_seq") * 1024 + F.col("pos")
                ),
                "url_hash", "seq",
            )
            # cached: the sequencer's planning passes (count / bound
            # sample / bucket counts) and the final consumers all read
            # the flag-dedup output — one evaluation of the anti-join
            # chain. Flag mode keeps EVERY child row (seen rows marked
            # _fresh=false) so the links-discovered count and the child
            # bucket set fall out of the sequencer's planning job — the
            # separate children.agg barrier is gone (one fewer driver
            # round-trip per discovery round on real executors).
            deduped = D.dedup_against_seen(children, seen,
                                           flag_col="_fresh") \
                       .drop("seq").cache()
            fresh, plan_stats = assign_global_seq(
                deduped, ["parent_seq", "pos"], start=max_seq + 1,
                gate_col="_fresh", set_col="host_bucket",
            )
            # the sequencer's two internal planning jobs (fused
            # count+sample+links-stats, per-bucket counts) ARE driver
            # barriers — count them so _collects is the round's true
            # job-barrier tally, not just the engine's own collects
            self.last_round_collects += 2 if plan_stats["n"] else 1
            n_fresh = plan_stats["n"]
            n_children = plan_stats["n_all"]
            touched_buckets |= {int(b) for b in plan_stats["set"]}
            # cached: consumed 2x (pending union + seen inserts); its
            # row count fell out of the sequencer's planning pass
            fresh_frontier = fresh.select(
                "url", "url_hash", "host", "host_bucket", "depth",
                "priority", "parser", "label", "discovered_from", "seq",
                F.lit(r + 1).alias("round"), F.lit("pending").alias("state"),
                F.lit(0).alias("retry_count"),
            ).cache()
        else:
            fresh_frontier = self.spark.createDataFrame([], frontier.schema)
            n_fresh = 0
            n_children = 0

        # frontier state transitions, computed over the TOUCHED buckets
        # only: every row that can change state (scheduled, blocked,
        # recrawl) is in a touched bucket by construction, and untouched
        # buckets' pending rows are carried forward by reference in the
        # shard-scoped commit — never rescanned, never rewritten. The
        # host_bucket IN (...) predicate prunes the pending scan to the
        # touched shards' files (each file holds one bucket).
        touched_list = sorted(touched_buckets)
        fr_touched = frontier.where(
            F.col("host_bucket").isin(touched_list))
        fetched_keys = fetched.select("url_hash").withColumn("_new", F.lit("fetched"))
        missing_keys = missing.select("url_hash").withColumn("_new", F.lit("fetch_failed"))
        blocked_keys = blocked.select("url_hash").withColumn("_new", F.lit("robots_blocked"))
        transitions = fetched_keys.unionByName(missing_keys).unionByName(blocked_keys)
        trans = (
            fr_touched.join(transitions, "url_hash", "left")
            .withColumn(
                "retry_count",
                F.when(F.col("_new") == "fetch_failed",
                       F.col("retry_count") + 1).otherwise(F.col("retry_count")),
            )
            .withColumn(
                "state",
                F.when(F.col("_new").isNull(), F.col("state"))
                .when((F.col("_new") == "fetch_failed")
                      & (F.col("retry_count") < cfg.max_retries), "pending")
                .when(F.col("_new") == "fetch_failed", "failed")
                .otherwise(F.col("_new")),
            )
            .select(*FRONTIER_COLS, "_new")
        ).cache()
        new_pending_delta = trans.where(F.col("state") == "pending") \
                                 .select(*FRONTIER_COLS) \
                                 .unionByName(fresh_frontier)
        archive_delta = trans.where(F.col("state") != "pending") \
                             .select(*FRONTIER_COLS)

        # J3 as events: one fetch event per fetched URL (the MERGE
        # update), one insert event per fresh child (the MERGE insert),
        # one fail event per retry-exhausted URL, and one duplicate
        # event per re-store whose content hash matched (added in
        # w_seen below, after the history delta that detects it).
        # O(round delta) rows — the full seen table is never rewritten.
        _null_i = F.lit(None).cast("int")
        fetch_events = (
            scheduled.join(fetched, "url_hash")
            .select(
                "url_hash", "url", "host_bucket",
                _null_i.alias("first_round"),
                F.lit(r).alias("last_round"),
                F.lit(1).alias("scrape_count"),
                F.lit(r).alias("last_scrape_round"),
                _null_i.alias("last_dup_round"),
                _null_i.alias("last_fail_round"),
                F.lit("scraped").alias("status"),
            )
        )
        insert_events = fresh_frontier.select(
            "url_hash", "url", "host_bucket",
            F.lit(r + 1).alias("first_round"),
            F.lit(r + 1).alias("last_round"),
            F.lit(0).alias("scrape_count"),
            _null_i.alias("last_scrape_round"),
            _null_i.alias("last_dup_round"),
            _null_i.alias("last_fail_round"),
            F.lit("pending").alias("status"),
        )
        # retry-exhausted rows become terminal 'failed' in the tracker
        # (url_tracker DDL status 'failed', cassandra_manager.py:151)
        fail_events = trans.where(F.col("state") == "failed").select(
            "url_hash", "url", "host_bucket",
            _null_i.alias("first_round"),
            F.lit(r).alias("last_round"),
            F.lit(0).alias("scrape_count"),
            _null_i.alias("last_scrape_round"),
            _null_i.alias("last_dup_round"),
            F.lit(r).alias("last_fail_round"),
            F.lit("failed").alias("status"),
        )
        seen_delta = fetch_events.unionByName(insert_events) \
                                 .unionByName(fail_events)

        # commits (each write is one snapshot; the round tag makes the
        # group atomic-at-resume — E5). Appends pin their base snapshot
        # so a torn round's orphans are never carried forward.
        #
        # Write scheduling: the articles write (the round's big UDF job)
        # runs first and alone; every remaining write targets a
        # DIFFERENT table over already-cached round-delta frames, so
        # they submit concurrently from driver threads and Spark
        # interleaves their (small) jobs across free cores — the
        # serialized tail of per-table write barriers is what otherwise
        # caps scaling efficiency on short rounds. Durability is
        # unchanged: nothing is committed until commit_round lands
        # AFTER every write has returned.
        snaps = {}
        _mark("t_plan")
        snaps["articles"] = self.catalog.write_snapshot(
            "articles", articles, {"round": r}, mode="append",
            base_snapshot_id=bs.get("articles", -1))
        _mark("t_write_articles")

        def w_weibo():
            snaps["weibo_posts"] = self.catalog.write_snapshot(
                "weibo_posts", weibo_posts, {"round": r}, mode="append",
                base_snapshot_id=bs.get("weibo_posts", -1))

        def w_quarantine():
            # quarantine + 'errors' (cassandra_manager.py:298,314):
            # fetched PARSE-labeled rows with a selected parser that
            # produced no stored article. Pure key arithmetic over
            # cached round-delta frames + the just-written articles
            # delta (pruned to one column).
            art_keys = self.catalog.read_snapshot_delta(
                "articles", snaps["articles"]).select("url_hash")
            quarantine = (
                sched_parse.join(fetched, "url_hash")
                .withColumn("parser_used",
                            P.U.select_parser_id(F.col("url"),
                                                 F.col("parser")))
                .where(F.col("parser_used").isNotNull())
                .select("url", "url_hash", "parser_used")
                .join(art_keys, "url_hash", "left_anti")
                .withColumn("fail_reason", F.lit("parse_failed"))
                .withColumn("round", F.lit(r))
            )
            snaps["quarantine"] = self.catalog.write_snapshot(
                "quarantine", quarantine, {"round": r}, mode="append",
                base_snapshot_id=bs.get("quarantine", -1))

        def w_history():
            # S8 content history: change detection against the latest
            # prior version, computed from the just-written articles
            # delta (three narrow columns) — never a re-parse
            hist_prior = (self.catalog.read("content_history",
                                            bs["content_history"])
                          if "content_history" in bs else None)
            hist_delta = HY.content_history_delta(
                self.catalog.read_snapshot_delta("articles",
                                                 snaps["articles"])
                .select("url_hash", "id", "content_hash"),
                hist_prior, r)
            snaps["content_history"] = self.catalog.write_snapshot(
                "content_history", hist_delta, {"round": r}, mode="append",
                base_snapshot_id=bs.get("content_history", -1))

        def w_frontier():
            # THE O(round delta) commit: only the touched buckets'
            # pending rows are rewritten; every other bucket's data dir
            # is carried by reference (Iceberg overwritePartitions).
            # The archive append is sharded by terminal state so the
            # per-state round stats below read from parquet footers.
            snaps["frontier"] = self.catalog.overwrite_shards(
                "frontier",
                new_pending_delta.where(
                    F.col("host_bucket").isin(touched_list)),
                touched_list, "host_bucket",
                {"round": r, "max_seq": int(max_seq) + n_fresh},
                base_snapshot_id=bs["frontier"])
            snaps["frontier_archive"] = self.catalog.write_snapshot(
                "frontier_archive", archive_delta, {"round": r},
                mode="append", shard_col="state",
                base_snapshot_id=bs.get("frontier_archive", -1))

        def w_seen():
            # duplicate-tracking events (cassandra_manager.py:454-464):
            # this round's stored articles whose content hash matched
            # the latest prior version. Detected by the history delta
            # just written (w_seen runs after w_history on one thread);
            # url/host_bucket come from the cached scheduled batch —
            # O(round delta) keys, no history rescan.
            dup_keys = (
                self.catalog.read_snapshot_delta(
                    "content_history", snaps["content_history"])
                .where(F.col("change_type") == "duplicate")
                .select("url_hash"))
            dup_events = scheduled.join(dup_keys, "url_hash").select(
                "url_hash", "url", "host_bucket",
                _null_i.alias("first_round"),
                F.lit(r).alias("last_round"),
                F.lit(0).alias("scrape_count"),
                _null_i.alias("last_scrape_round"),
                F.lit(r).alias("last_dup_round"),
                _null_i.alias("last_fail_round"),
                F.lit("duplicate").alias("status"),
            )
            snaps["seen"] = self.catalog.write_snapshot(
                "seen", seen_delta.unionByName(dup_events),
                {"round": r}, mode="append",
                shard_col="host_bucket",
                base_snapshot_id=bs.get("seen", -1))
            if cfg.compact_seen_every and \
                    (r + 1) % cfg.compact_seen_every == 0:
                # rotating per-group compaction: merge ONE bucket
                # group's event dirs into its merged view and swap only
                # those shards — O(seen/groups) per event, never a
                # full-table stall. Merged rows are themselves valid
                # events (min/max/sum re-merge associatively), so a
                # group's view stays correct across future appends.
                groups = max(1, cfg.seen_compact_groups)
                g = ((r + 1) // cfg.compact_seen_every - 1) % groups
                group = [b for b in range(cfg.n_buckets)
                         if b % groups == g]
                compacted = merged_seen(self.catalog.read_shards(
                    "seen", group, snaps["seen"]))
                snaps["seen"] = self.catalog.overwrite_shards(
                    "seen", compacted, group, "host_bucket",
                    {"round": r, "compacted_group": g},
                    base_snapshot_id=snaps["seen"])

        def w_history_then_seen():
            # seen's duplicate events derive from the history delta, so
            # these two writes are sequenced on one thread; the other
            # tables still overlap them.
            w_history()
            w_seen()

        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=6) as pool:
            futs = [pool.submit(f) for f in
                    (w_weibo, w_quarantine, w_frontier,
                     w_history_then_seen)]
            for f in futs:
                f.result()          # propagate the first failure
        _mark("t_write_parallel")

        # A1/A4 metrics — every count is either a byproduct of the one
        # round-planning collect or a parquet-footer read of this
        # round's newly written files (driver-side, no Spark job, no
        # barrier); nothing rescans a cumulative table, so metric cost
        # stays flat as the crawl ages. The state-sharded archive gives
        # per-state counts straight from its leaf dirs.
        n_fetched = self.catalog.snapshot_delta_rowcount(
            "frontier_archive", snaps["frontier_archive"],
            shards=["fetched"])
        n_sched = n_scheduled_rows
        pending_after = self.catalog.snapshot_rowcount(
            "frontier", snaps["frontier"])
        n_articles = self.catalog.snapshot_delta_rowcount(
            "articles", snaps["articles"])
        n_errors = self.catalog.snapshot_delta_rowcount(
            "quarantine", snaps["quarantine"])
        metrics = {
            "round": r,
            "scheduled": n_sched,
            "fetched": n_fetched,
            "fetch_failed": n_sched - n_fetched,
            "robots_blocked": n_blocked,
            "articles_scraped": n_articles,
            "errors": n_errors,
            "links_discovered": n_children,
            "links_enqueued": n_fresh,
            "duplicates_skipped": n_children - n_fresh,
            "recrawl_enqueued": n_recrawl,
            "pending_after": pending_after,
        }
        mdf = self.spark.createDataFrame(
            [(r, k, int(v)) for k, v in metrics.items()
             if k != "round" and not k.startswith("_")],
            "round int, metric string, value long",
        ).withColumn("round", F.lit(r))
        snaps["round_metrics"] = self.catalog.write_snapshot(
            "round_metrics", mdf, {"round": r}, mode="append",
            base_snapshot_id=bs.get("round_metrics", -1))
        self.catalog.commit_round(r, snaps)
        for df in (scheduled, fetched, blocked, fresh_frontier,
                   trans, deduped, recrawl_cohort, weibo_full):
            if df is not None:
                df.unpersist()
        _mark("t_metrics")
        metrics["_timings"] = _tm
        metrics["_collects"] = self.last_round_collects
        return metrics

    # -- loop -------------------------------------------------------------------
    def run(self, seeds: DataFrame | None = None,
            max_rounds: int | None = None) -> list[dict]:
        """E3: bootstrap (unless resuming) then rounds until the frontier
        drains. Resume = continue from the last complete round's
        snapshots — no recomputation, identical final state."""
        if seeds is not None:
            self.bootstrap(seeds)
        last = self.catalog.last_complete_round()
        start = (last["round"] + 1) if last else 0
        out = []
        limit = max_rounds if max_rounds is not None else self.cfg.max_rounds
        for r in range(start, start + limit):
            m = self.run_round(r)
            out.append(m)
            # refresh crawls (recrawl_ttl) idle between cohorts: future
            # cohorts can still come due, so only max_rounds bounds them
            if m["pending_after"] == 0 and self.cfg.recrawl_ttl is None:
                break
        return out
