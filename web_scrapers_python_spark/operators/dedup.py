"""URL-seen dedup (SURVEY §2.3 J1-J3) — first-wins within a batch plus
an exact flag-mode check against the seen log.

Reference semantics: exact, point-lookup dedup on ``url_hash``
(cassandra_manager.py:317-329) and first-enqueue-wins within a batch
(crawlee uniqueKey, routes.py:44-57).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def first_wins(df: DataFrame, key: str = "url_hash",
               order: str = "seq") -> DataFrame:
    """Within-batch dedup keeping the first enqueue (min order) — J2."""
    w = Window.partitionBy(key).orderBy(F.col(order).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def anti_join_seen(candidates: DataFrame, seen: DataFrame,
                   key: str = "url_hash") -> DataFrame:
    """Exact seen-set anti-join — J1 (the correctness baseline)."""
    return candidates.join(seen.select(key), key, "left_anti")


def dedup_against_seen(candidates: DataFrame, seen: DataFrame,
                       key: str = "url_hash",
                       flag_col: str = "_fresh") -> DataFrame:
    """J1: return EVERY candidate row with a boolean ``flag_col``
    (true = never seen) instead of dropping the seen ones. Lets the
    caller keep one cached frame serving both the fresh rows and the
    all-candidates aggregates (the crawl engine fuses its
    links-discovered count into the sequencer's planning pass this
    way).

    Seen-side-shuffle-free: a direct candidates-anti-seen would
    sort-merge BOTH sides — an O(seen) shuffle every round. The
    candidate key set is round-delta-sized, so flip it: stream the seen
    scan (one pruned column) against the (AQE-broadcast-able) candidate
    keys to get the hits, then LEFT-join those back. ``distinct`` keeps
    the join from multiplying candidates when the seen event log
    carries a key more than once. No explicit broadcast hint, so an
    oversized candidate set degrades to SMJ instead of OOMing the
    driver."""
    hits = (seen.select(key)
            .join(candidates.select(key), key, "left_semi")
            .distinct())
    return (
        candidates.join(hits.withColumn("_seen", F.lit(True)), key, "left")
        .withColumn(flag_col, F.col("_seen").isNull())
        .drop("_seen")
    )
