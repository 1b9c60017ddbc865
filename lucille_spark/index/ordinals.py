"""Dense, deterministic doc-ordinal assignment — identical at any parallelism.

Why not ``zipWithIndex`` / ``monotonically_increasing_id``: both depend on the
physical partitioning, so two cluster sizes would produce different ordinals
and therefore different posting lists (breaking the scaling-identity and
resume contracts — SURVEY.md §7.3 hard part (d)).

Scheme: ``doc_id`` is already a uniform hash (sha256 hex). Bucket each doc by
its first hex digits (content-derived → partition-independent), count docs
per bucket, cumsum the counts into bucket base offsets (tiny driver-side
array), then ``doc_ord = base[bucket] + rank_within_bucket(order by doc_id)``.
Buckets are uniformly sized by construction, so the per-bucket sort windows
are balanced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Scale note: 3 hex digits give 4,096 buckets; at 10^12 docs 5 digits
# (~1M buckets of ~1M docs) keep each bucket executor-sized, and the
# (doc_id, doc_ord) map outgrows a broadcast: drop the F.broadcast below
# and Catalyst picks a shuffle join, still id-sized data plus one pass of
# the wide rows.
BUCKET_HEX_DIGITS = 3


def assign_doc_ord(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Add a dense ``doc_ord`` long column, ordered by (bucket, doc_id).

    The rank window runs on a NARROW (doc_id-only) projection — Catalyst
    prunes the scan — so the corpus's wide rows are never shuffled for
    ordinal assignment. The (doc_id, doc_ord) map is then attached with a
    broadcast join (ids are ~70B/row; fine into the tens of millions of
    docs). Raises ValueError when an id repeats.
    """
    spark = df.sparkSession
    bucket = F.conv(F.substring(F.col(id_col), 1, BUCKET_HEX_DIGITS), 16, 10
                    ).cast("long")
    narrow = df.select(F.col(id_col)).withColumn("_bucket", bucket)
    # a repeated id would get an ordinal per row and multiply in the join
    counts = (narrow.groupBy("_bucket")
              .agg(F.count("*").alias("count"),
                   F.countDistinct(id_col).alias("ids"))
              .toPandas().sort_values("_bucket"))
    repeats = int(counts["count"].sum() - counts["ids"].sum())
    if repeats:
        raise ValueError(
            f"{repeats} rows repeat an earlier {id_col}; ordinals need "
            "unique ids. For last-wins ingest of repeated ids use "
            "merge_index(order_col=...).")
    counts["base"] = counts["count"].cumsum().shift(fill_value=0)
    # the schema spares an empty batch (a delete-only commit) inference
    bases = spark.createDataFrame(counts[["_bucket", "base"]],
                                  "_bucket long, base long")
    w = Window.partitionBy("_bucket").orderBy(id_col)
    ords = (
        narrow.join(F.broadcast(bases), "_bucket")
        .withColumn("doc_ord", (F.col("base") + F.row_number().over(w) - 1
                                ).cast("long"))
        .select(id_col, "doc_ord")
    )
    return df.join(F.broadcast(ords), id_col)
