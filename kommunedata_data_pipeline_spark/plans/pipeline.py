"""Pipeline compiler — the reference's whole dataflow as ONE declarative plan.

The reference's "logical plan" is its loop nesting (SURVEY §3): per
municipality, scroll-harvest links, dedup, date-filter, anti-join vs the
sink, slice to the download limit, fetch, land. Here the same semantics
compile to a single DataFrame chain:

    listings → derive/extract columns → doc-type filter → incremental
    predicate → dropDuplicates(url) → left_anti(catalog) → per-group
    row_number ≤ limit → canonical doc_key

separated by exactly one shuffle (dedup + window share the municipality
partitioning; the anti-join is broadcast). Catalyst handles pushdown —
the date filter reaches the parquet scan because everything before it is
narrow projections.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dates import parse_meeting_date, should_scrape
from ..functions.strings import doc_key
from ..operators.joins import anti_join_catalog
from ..operators.relational import (
    dedup_keep_first,
    filter_doc_type,
    filter_municipality,
    per_group_limit,
)
from ..sources.readers import load_table


@dataclass
class PipelineSpec:
    """Declarative spec for one source pipeline (SURVEY §7.1 item 5).

    Mirrors the reference's env contract: MUNICIPALITY_FILTER,
    SCRAPE_MODE, DOWNLOAD_LIMIT (scraper_utils.py:72-97,
    scraper.py:346-351)."""

    municipality_filter: str | None = None
    scrape_mode: str = "ALL"  # ALL | NEW
    download_limit: int | None = None
    doc_type_keep: str = "referat"
    order_by: list[str] = field(default_factory=lambda: ["meeting_date"])

    def compile(self, listings: DataFrame, catalog: DataFrame) -> DataFrame:
        """listings: raw harvest rows with at least
        (municipality, committee, url, raw_date, raw_type, page_no, pos);
        catalog: landed doc_keys. Returns the fetch worklist."""
        typed = listings.withColumn(
            "meeting_date", parse_meeting_date(F.col("raw_date"))
        ).withColumn("doc_type", F.col("raw_type"))
        typed = filter_doc_type(typed, self.doc_type_keep)
        typed = filter_municipality(typed, self.municipality_filter)
        typed = typed.where(should_scrape(F.col("meeting_date"), self.scrape_mode))
        # D1: first-seen page order wins (O3 order reified as page_no/pos)
        typed = dedup_keep_first(
            typed, ["url"], [F.col("page_no").asc_nulls_last(), F.col("pos").asc_nulls_last()]
        )
        typed = typed.withColumn(
            "doc_key",
            F.concat(
                doc_key(F.col("meeting_date"), F.col("municipality"), F.col("committee")),
                F.lit(".pdf"),
            ),
        )
        fresh = anti_join_catalog(typed, catalog.select("doc_key"), ["doc_key"])
        return per_group_limit(
            fresh,
            ["municipality"],
            [F.col("meeting_date").desc_nulls_last(), F.col("url").asc()],
            self.download_limit,
        )


def flagship_meetings_to_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §7.2 minimum slice recast onto the star schema (the testdata has
    no listings table, so: orders = the 'listing', customer⋈nation = the
    config dim, early-shipped lineitems = the landed catalog).

    Semantics exercised: scan → broadcast fan-out join (J1) → doc-type
    filter (P2) → dedup (D1) → anti-join vs catalog (J2) → per-group
    limit (W1/W2) → canonical doc_key (F11).
    """
    orders, customer, nation, lineitem = (
        load_table(spark, sf_dir, t)
        for t in ("orders", "customer", "nation", "lineitem")
    )

    config = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "c_mktsegment", "n_name")

    listings = (
        orders.join(F.broadcast(config), orders.o_custkey == F.col("c_custkey"))
        .where(F.col("o_orderstatus") == "O")  # ≈ doc_type = 'referat'
        .select(
            F.lower(F.col("n_name")).alias("municipality"),
            F.lower(F.col("c_mktsegment")).alias("committee"),
            F.col("o_orderkey").alias("listing_id"),
            F.to_date("o_orderdate").alias("meeting_date"),
        )
    )
    # landed catalog ≈ orderkeys with any lineitem shipped before 1998
    catalog = (
        lineitem.where(F.col("l_shipdate") < "1998-01-01")
        .select(F.col("l_orderkey").alias("listing_id"))
        .distinct()
    )
    fresh = listings.join(catalog, "listing_id", "left_anti")
    limited = per_group_limit(
        fresh,
        ["municipality"],
        [F.col("meeting_date").desc(), F.col("listing_id").asc()],
        10,
    )
    return limited.select(
        "municipality",
        "committee",
        "listing_id",
        # ISO string, not DATE: stable across engines' date/datetime bridges
        F.date_format("meeting_date", "yyyy-MM-dd").alias("meeting_date"),
        F.concat(
            doc_key(F.col("meeting_date"), F.col("municipality"), F.col("committee")),
            F.lit(".pdf"),
        ).alias("doc_key"),
    ).orderBy("municipality", "meeting_date", "listing_id")
