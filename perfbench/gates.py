"""Correctness gates of the crawl workloads, run outside timed sections.

- every stored article's ``content`` is byte-identical to the corpus
  ``pages.text`` of its URL. ``pages.text`` is the reference parser's
  output under the parser the URL selects by itself; an article parsed
  under a parser its seed forced is held to the simulator's article;
- the per-round scheduled URL sets, per-round article counts and the
  final seen set (the aged workload's backlog excluded) equal
  ``oracle.frontier_sim.simulate`` for the same seeds and policy.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_MISSING = object()


@dataclass
class Oracle:
    scheduled: list[set[str]]       # per round
    articles: list[int]             # per round
    seen: set[str]                  # url_hash
    content: dict[str, str | None]  # url -> article content


@dataclass
class Observation:
    scheduled: list[set[str]]
    articles: list[int]
    seen: set[str]
    content_bad: dict[int, int]     # round -> mismatching articles


def oracle_for(wl) -> Oracle:
    """The simulator's crawl for this workload and seed. The seed file
    is read by the reference reader, not the engine's, so the gates
    also hold the engine's seed decoding to the reference."""
    from web_scrapers_python_spark.oracle import frontier_sim as sim
    from web_scrapers_python_spark.oracle.reference import parse_seeds_text
    with open(wl.seeds_path) as f:
        seeds = parse_seeds_text(f.read())
    pages = dict(zip(*read_columns(wl.corpus_files, ["url", "html"])))
    policy = {r["host"]: r for r in wl.policy_rows}
    res = sim.simulate(pages, seeds, policy,
                       default_budget=wl.cfg.default_budget,
                       max_rounds=wl.shape.rounds)
    return Oracle([set(r["scheduled"]) for r in res.rounds],
                  [r["articles"] for r in res.rounds], set(res.seen),
                  {a["url"]: a.get("content") for a in res.articles})


def parquet_files(paths: list[str]) -> list[str]:
    """The parquet files under catalog data paths (dirs or files)."""
    out = []
    for p in paths:
        if os.path.isfile(p):
            out.append(p)
            continue
        for d, _, names in os.walk(p):
            out += [os.path.join(d, n) for n in sorted(names)
                    if n.endswith(".parquet") and not n.startswith((".", "_"))]
    return out


def read_columns(files: list[str], columns: list[str]) -> list[list]:
    """Columns of parquet files, read driver-side with pyarrow: the
    gates launch no Spark job."""
    import pyarrow.parquet as pq
    cols: list[list] = [[] for _ in columns]
    for f in files:
        t = pq.read_table(f, columns=columns)
        for i, c in enumerate(columns):
            cols[i] += t.column(c).to_pylist()
    return cols


def observe(cat, round_metrics: list[dict], page_text: dict[str, str | None],
            backlog_prefix: str) -> Observation:
    """Read back what the engine did from the catalog's per-round
    snapshots. A round scheduled the URLs it archived as fetched or
    failed, plus the pending URLs whose retry count it raised."""
    def snap_files(table: str, sid: int | None = None) -> list[str]:
        entry = (cat.current_snapshot(table) if sid is None else
                 next(e for e in cat.snapshots(table) if e["id"] == sid))
        return parquet_files(entry["paths"])

    def retried(sid: int) -> dict[str, tuple[str, int]]:
        h, u, rc = read_columns(snap_files("frontier", sid),
                                ["url_hash", "url", "retry_count"])
        return {k: (url, n) for k, url, n in zip(h, u, rc) if n > 0}

    entries = cat.rounds()
    scheduled: list[set[str]] = []
    before = None
    for m in round_metrics:
        i = max(k for k, e in enumerate(entries) if e["round"] == m["round"])
        snaps = entries[i]["snapshots"]
        if before is None:
            before = retried(entries[i - 1]["snapshots"]["frontier"])
        after = retried(snaps["frontier"])
        done = cat.snapshot_delta_columns_local(
            "frontier_archive", snaps["frontier_archive"], ["url", "state"])
        scheduled.append(
            {d["url"] for d in done if d["state"] in ("fetched", "failed")}
            | {url for h, (url, n) in after.items()
               if n > before.get(h, ("", 0))[1]})
        before = after
    hashes, urls = read_columns(snap_files("seen"), ["url_hash", "url"])
    seen = {h for h, u in zip(hashes, urls)
            if not u.startswith(backlog_prefix)}
    content_bad: dict[int, int] = {}
    for url, content, r in zip(*read_columns(snap_files("articles"),
                                             ["url", "content", "round"])):
        if content != page_text.get(url, _MISSING):
            content_bad[r] = content_bad.get(r, 0) + 1
    return Observation(scheduled,
                       [m["articles_scraped"] for m in round_metrics],
                       seen, content_bad)


def compare(obs: Observation, oracle: Oracle, n_rounds: int) -> dict[int, str]:
    """Rounds that fail a gate -> why. Differences the engine cannot be
    charged a specific round for land on its last round."""
    last = max(n_rounds - 1, 0)
    bad: dict[int, str] = {}

    def flag(r: int, why: str) -> None:
        bad.setdefault(min(r, last), why)

    if len(obs.scheduled) != len(oracle.scheduled):
        flag(min(len(obs.scheduled), len(oracle.scheduled)),
             f"ran {len(obs.scheduled)} rounds, oracle "
             f"{len(oracle.scheduled)}")
    for r, (got, want) in enumerate(zip(obs.scheduled, oracle.scheduled)):
        if got != want:
            flag(r, f"scheduled set differs in {len(got ^ want)} URLs")
    for r, (got, want) in enumerate(zip(obs.articles, oracle.articles)):
        if got != want:
            flag(r, f"{got} articles, oracle {want}")
    for r, n in obs.content_bad.items():
        flag(r, f"{n} articles differ from pages.text")
    if obs.seen != oracle.seen:
        flag(last, f"final seen set differs in "
                   f"{len(obs.seen ^ oracle.seen)} URLs")
    return bad
