"""The dataset_listing view — the reference's only join.

Reference: /root/reference/src/storage/database_sink.rs:492-558 — per dataset:
(link, dataset title, id, provider, isGeoReferenced), where isGeoReferenced is
a correlated EXISTS over units with the same surrogate_key and non-NULL
lat/lon (533-538); when the spec lacks title/lat/lon columns the view falls
back to ''/NULL literals (500-522).

Spark-first: the EXISTS is a left-semi join on the distinct geo-referenced
keys (Catalyst would decorrelate the SQL form to exactly this); the geo side
is aggregated before the join so the probe side is minimal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fields import AbcdFields, sha1_hex

TITLE_FIELD = "/DataSets/DataSet/Metadata/Description/Representation/Title"
LON_FIELD = (
    "/DataSets/DataSet/Units/Unit/Gathering/SiteCoordinateSets/SiteCoordinates/"
    "CoordinatesLatLong/LongitudeDecimal"
)
LAT_FIELD = (
    "/DataSets/DataSet/Units/Unit/Gathering/SiteCoordinateSets/SiteCoordinates/"
    "CoordinatesLatLong/LatitudeDecimal"
)


def dataset_listing(datasets: DataFrame, units: DataFrame, fields: AbcdFields) -> DataFrame:
    title_col = (
        F.col(sha1_hex(TITLE_FIELD)) if fields.value_of(TITLE_FIELD) else F.lit("")
    )  # fallback '' when spec lacks a title (database_sink.rs:500-506)

    have_geo = fields.value_of(LON_FIELD) is not None and fields.value_of(LAT_FIELD) is not None
    if have_geo:
        geo_keys = (
            units.filter(
                F.col(sha1_hex(LAT_FIELD)).isNotNull()
                & F.col(sha1_hex(LON_FIELD)).isNotNull()
            )
            .select("surrogate_key")
            .distinct()
        )
        flagged = datasets.join(
            geo_keys.withColumn("_geo", F.lit(True)), "surrogate_key", "left"
        ).withColumn("isGeoReferenced", F.coalesce(F.col("_geo"), F.lit(False))).drop("_geo")
    else:
        flagged = datasets.withColumn("isGeoReferenced", F.lit(None).cast("boolean"))

    return flagged.select(
        F.col("landing_page").alias("link"),
        title_col.alias("dataset"),
        F.col("dataset_id").alias("id"),
        F.col("provider").alias("provider"),
        "isGeoReferenced",
        "surrogate_key",
    )
