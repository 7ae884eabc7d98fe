"""Streaming URL-seen dedup — the J1 anti-join as a custom stateful
Structured-Streaming operator (`applyInPandasWithState`).

A live deployment of the crawl engine consumes discovered-URL events
as a stream; the seen-set check must then be continuous rather than
per-round. State is keyed by ``host_bucket`` (the same partitioning as
the batch engine's seen shards, SURVEY §4.2.1) and holds the set of
url_hashes seen so far in that bucket; each micro-batch emits ONLY
first occurrences, in the exact first-enqueue-wins semantics of the
batch `first_wins` + anti-join composite (J1/J2).

Two state layouts, same operator shape and same output contract:

- ``stream_first_seen`` — exact url_hash set per host_bucket. The
  small/medium tool: per-batch cost is O(batch) probes but the state
  rewrite is O(|seen-in-bucket|) per updated bucket, so it does NOT
  hold at the 10^10 design point.
- ``stream_first_seen_bloom`` — the 10^10 path (a partitioned bloom
  layout, one filter per host_bucket): state per bucket is a
  fixed-size serialized bloom filter plus a BOUNDED exact-suffix list
  of the most recent inserts. Per-batch cost is O(batch * k_hashes)
  probes + an O(bloom_bytes + suffix_len) state rewrite — independent
  of |seen|. Semantics: a bloom has NO false negatives, so every
  truly-seen url_hash is dropped (first-wins is never violated by
  re-emission); a bloom false positive drops a fresh URL, the SAFE
  direction for a crawler (a skipped URL, never a re-crawl loop), at
  the configured fp rate. The exact suffix makes the bursty common
  case exact regardless of bloom content: a dup arriving within
  ``suffix_len`` inserts of its first occurrence is confirmed by exact
  membership, not probabilistically. The batch engine checks every
  candidate exactly against the durable seen table
  (operators/dedup.py::dedup_against_seen); a continuous stream has no
  per-batch side-join, so the residual fp rate IS the accuracy
  contract — size ``capacity``/``fp_rate`` for the corpus (10^7
  keys/bucket at 1% fp ~ 12 MB/bucket, SURVEY §7).

Shared scale notes:
- `applyInPandasWithState` receives Arrow batches per key — the
  processing is vectorized pandas, never per-row Python.
- timeouts: NoTimeout — a crawl seen-set never expires. A TTL'd
  variant (re-crawl after N days) is `GroupStateTimeout.ProcessingTimeTimeout`
  plus a round-stamp per hash.
"""

from __future__ import annotations

import hashlib
import math
from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENT_SCHEMA = "url_hash string, url string, host_bucket int, seq long"
OUT_SCHEMA = "url_hash string, url string, host_bucket int, seq long"
STATE_SCHEMA = "seen array<string>"
BLOOM_STATE_SCHEMA = ("filter binary, n_bits long, n_hashes int, "
                      "n_items long, suffix array<string>")


def _bloom_params(n_items: int, fp_rate: float) -> tuple[int, int]:
    n = max(n_items, 1)
    m = max(64, int(-n * math.log(fp_rate) / (math.log(2) ** 2)))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _positions(key: str, m: int, k: int) -> np.ndarray:
    d = hashlib.sha256(key.encode()).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:16], "big") | 1
    return np.array([(h1 + i * h2) % m for i in range(k)], dtype=np.int64)


def _first_seen(key: Tuple[Any, ...],
                batches: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
    (seen_list,) = state.get if state.exists else ([],)
    seen = set(seen_list)
    for b in batches:
        # within-batch first-wins: keep min-seq row per url_hash, in
        # deterministic seq order (J2), then drop already-seen keys (J1)
        b = b.sort_values("seq", kind="mergesort")
        b = b[~b["url_hash"].duplicated(keep="first")]
        fresh = b[~b["url_hash"].isin(seen)]
        if len(fresh):
            seen.update(fresh["url_hash"].tolist())
            yield fresh
    state.update((list(seen),))


def stream_first_seen(events: DataFrame) -> DataFrame:
    """events: streaming DataFrame with EVENT_SCHEMA columns. Returns
    the first-occurrence-only stream (exactly-once per url_hash across
    the life of the query, checkpoint-durable). Exact-set state — the
    small/medium tool; use ``stream_first_seen_bloom`` at scale."""
    return (
        events.groupBy("host_bucket")
        .applyInPandasWithState(
            _first_seen, OUT_SCHEMA, STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _make_bloom_first_seen(capacity: int, fp_rate: float,
                           suffix_len: int):
    """Build the per-bucket stateful fn with the sizing baked in (the
    fn is shipped to executors; the knobs are plain closure ints)."""

    def _bloom_first_seen(key: Tuple[Any, ...],
                          batches: Iterator[pd.DataFrame],
                          state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            fb, m, k, n_items, suffix = state.get
            bits = np.frombuffer(bytes(fb), dtype=np.uint8).copy()
            suffix = list(suffix)
        else:
            m, k = _bloom_params(capacity, fp_rate)
            bits = np.zeros(m // 8, dtype=np.uint8)
            n_items, suffix = 0, []
        m, k = int(m), int(k)
        recent = set(suffix)
        for b in batches:
            b = b.sort_values("seq", kind="mergesort")
            b = b[~b["url_hash"].duplicated(keep="first")]
            keep = np.ones(len(b), dtype=bool)
            for i, s in enumerate(b["url_hash"].to_numpy()):
                if s in recent:          # exact confirm, recent window
                    keep[i] = False
                    continue
                pos = _positions(s, m, k)
                hit = bool(np.all((bits[pos >> 3] >> (pos & 7)) & 1))
                if hit:                  # true dup or fp — drop (safe)
                    keep[i] = False
                    continue
                # bitwise_or.at, not fancy |=: two positions landing in
                # the same byte must BOTH set their bit
                np.bitwise_or.at(bits, pos >> 3,
                                 (1 << (pos & 7)).astype(np.uint8))
                recent.add(s)
                suffix.append(s)
                n_items += 1
            fresh = b[keep]
            if len(fresh):
                yield fresh
        if len(suffix) > suffix_len:     # bound the exact window
            suffix = suffix[-suffix_len:]
        state.update((bits.tobytes(), m, k, int(n_items), suffix))

    return _bloom_first_seen


def stream_first_seen_bloom(events: DataFrame, capacity: int = 100_000,
                            fp_rate: float = 1e-4,
                            suffix_len: int = 4096) -> DataFrame:
    """``stream_first_seen`` with bloom + bounded-exact-suffix state —
    the 10^10 layout promised by this module's docstring: per-batch
    cost bounded by batch size (probes) + a constant-size state
    rewrite, never O(|seen|). ``capacity``/``fp_rate`` size the filter
    per bucket (``_bloom_params``); ``_positions`` is the double-hashed
    sha256 probe family."""
    return (
        events.groupBy("host_bucket")
        .applyInPandasWithState(
            _make_bloom_first_seen(capacity, fp_rate, suffix_len),
            OUT_SCHEMA, BLOOM_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_stream_dedup(spark, src_path: str, table: str,
                     checkpoint: str, variant: str = "exact",
                     **bloom_kwargs) -> DataFrame:
    """availableNow harness: file-stream the events directory through
    the stateful dedup into a memory sink. ``variant``: 'exact' |
    'bloom' (kwargs forwarded to ``stream_first_seen_bloom``)."""
    events = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)      # several micro-batches →
        .parquet(src_path)                    # state actually carries over
    )
    dedup = (stream_first_seen_bloom(events, **bloom_kwargs)
             if variant == "bloom" else stream_first_seen(events))
    q = (
        dedup
        .writeStream.format("memory").queryName(table)
        .option("checkpointLocation", checkpoint)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(table)
