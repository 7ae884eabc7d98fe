"""Unit test for the exact flag-mode seen dedup: every candidate row
survives once, flagged fresh exactly when its key is absent from the
seen event log."""

from __future__ import annotations

from web_scrapers_python_spark.operators import dedup as D


def _keys_df(spark, items):
    return spark.createDataFrame(
        [(b, k) for b, k in items], "host_bucket int, url_hash string")


class TestSeenDedup:
    def test_flag_mode_marks_instead_of_filtering(self, spark):
        """flag_col mode: every candidate row survives exactly once
        (even when the seen EVENT LOG repeats a key) and the flag
        partition reproduces the exact anti-join baseline."""
        # seen log with duplicate events per key (insert + fetch)
        seen = _keys_df(spark, [(i % 4, f"s{i}") for i in range(100)] * 2)
        cand = _keys_df(spark, [(i % 4, f"s{i}") for i in range(50, 150)]
                        + [(9, "brand-new")])
        want_fresh = sorted(r["url_hash"] for r in
                            D.anti_join_seen(cand, seen).collect())
        want_all = sorted(r["url_hash"] for r in cand.collect())
        marked = D.dedup_against_seen(cand, seen, flag_col="_fresh").collect()
        assert sorted(r["url_hash"] for r in marked) == want_all
        assert sorted(r["url_hash"] for r in marked
                      if r["_fresh"]) == want_fresh
