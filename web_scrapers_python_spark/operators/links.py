"""Link expansion (SURVEY §2.10 E1) and frontier-row derivation.

``enqueue_links`` (routes.py:44-57) becomes: pandas UDF extracting the
matching hrefs per page → ``posexplode`` → child rows carrying the
parent's parser choice (user_data propagation, routes.py:47-56), the
lineage edge (``discovered_from``), and the deterministic enqueue order
key ``(parent_seq, pos)``. Children are labeled ``PARSE`` — the
reference's two-phase routing (discover → parse, routes.py:25-100 E2);
the engine's multi-depth mode relabels them with the parent selector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import urls as U
from .parse import extract_links_udf

DISCOVER_LABELS_NOT = ("PARSE",)  # any other non-null label = CSS selector


def host_bucket(host_col, n_buckets: int):
    """Stable host bucketing for partitioning/shard layout (anti-skew)."""
    return F.pmod(F.xxhash64(host_col), F.lit(n_buckets)).cast("int")


def with_url_identity(df: DataFrame, n_buckets: int) -> DataFrame:
    """Attach url_hash / host / host_bucket identity columns (X1, X3).

    The frontier dedup key hashes the CANONICAL URL (crawlee uniqueKey
    normalization — trim/fragment/case/default-port/trailing-slash/
    utm/param-sort; functions/urls.py::canonicalize_url), merging the
    reference's two dedup layers (crawlee queue uniqueKey +
    cassandra url_tracker) into one key. For already-canonical URLs
    the two layers agree and this is exactly the raw sha256[:16];
    store-time article url_hash stays raw (cassandra_manager.py:
    408-410 parity, operators/parse.py)."""
    return (
        df.withColumn("url_hash", U.canonical_url_hash(F.col("url")))
        .withColumn("host", U.extract_domain(F.col("url")))
        .withColumn("host_bucket", host_bucket(F.col("host"), n_buckets))
    )


def expand_links(discover_rows: DataFrame, n_buckets: int,
                 rediscover: bool = False) -> DataFrame:
    """discover_rows: (url, html, label, parser, seq, depth, priority).
    Returns child candidate rows ordered by (parent_seq, pos)."""
    children = (
        discover_rows
        .select(
            F.col("url").alias("discovered_from"),
            F.col("seq").alias("parent_seq"),
            F.col("parser"),
            F.col("depth"),
            F.col("priority"),
            F.col("label").alias("_parent_label"),
            F.posexplode(
                extract_links_udf(F.col("html"), F.col("label"))
            ).alias("pos", "url"),
        )
        .withColumn("depth", F.col("depth") + 1)
        .withColumn(
            "label",
            F.col("_parent_label") if rediscover else F.lit("PARSE"),
        )
        .drop("_parent_label")
    )
    return with_url_identity(children, n_buckets)
