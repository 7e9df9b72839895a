"""The paper's store query mix and a last-write-wins digest, on the engine.

Each query is a DataFrame over ``ChangesetStore.changesets()`` that the
benchmark collects; ``normalise`` turns the collected rows into the shape
``gen.StoreModel.answers`` returns, so the two can be compared exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from changesetmd_spark.operators.geometry import bbox_area_m2, bbox_contains
from changesetmd_spark.sources.xml_source import comments_table

from gen import AREA_LIMIT_M2, QueryParams


def _ntz(t) -> F.Column:
    return F.lit(t.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp_ntz")


def _count(df: DataFrame) -> DataFrame:
    return df.agg(F.count(F.lit(1)).alias("n"))


def build(name: str, cs: DataFrame, p: QueryParams) -> DataFrame:
    """The README query ``name`` with parameters ``p`` over the store."""
    if name == "tag_exists":  # tags ? 'key'
        return _count(cs.filter(F.map_contains_key("tags", p.tag_key)))
    if name == "editor_like":  # tags->'created_by' LIKE 'JOSM%'
        by = F.try_element_at("tags", F.lit("created_by"))
        return _count(cs.filter(by.startswith(p.editor_prefix)))
    if name == "envelope":  # ST_CoveredBy(geom, ST_MakeEnvelope(...))
        inside = bbox_contains(
            F.col("min_lon"), F.col("min_lat"), F.col("max_lon"), F.col("max_lat"),
            p.envelope,
        )
        return _count(cs.filter(inside))
    if name == "small_area":  # ST_Area(ST_Transform(geom, 3410)) < 225 km²
        area = bbox_area_m2(F.col("min_lon"), F.col("min_lat"), F.col("max_lon"), F.col("max_lat"))
        return _count(cs.filter(area < F.lit(AREA_LIMIT_M2)))
    if name == "user_stats":  # WHERE user_id = ? : count, sum(num_changes)
        return cs.filter(F.col("user_id") == F.lit(p.user_id)).agg(
            F.count(F.lit(1)).alias("n"), F.sum("num_changes").alias("changes")
        )
    if name == "day_range":  # created_at day range
        return _count(
            cs.filter((F.col("created_at") >= _ntz(p.day_from)) & (F.col("created_at") < _ntz(p.day_to)))
        )
    if name == "open":
        return _count(cs.filter(F.col("open")))
    if name == "comment_window":  # comments explode over a date window
        c = comments_table(cs)
        return _count(
            c.filter((F.col("comment_date") >= _ntz(p.comment_from)) & (F.col("comment_date") < _ntz(p.comment_to)))
        )
    if name == "top_users":
        return (
            cs.filter(F.col("user_id").isNotNull())
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("user_id"))
            .limit(10)
        )
    raise KeyError(name)


QUERIES = (
    "tag_exists",
    "editor_like",
    "envelope",
    "small_area",
    "user_stats",
    "day_range",
    "open",
    "comment_window",
    "top_users",
)


def normalise(name: str, rows: list) -> object:
    if name == "user_stats":
        return (rows[0]["n"], rows[0]["changes"])
    if name == "top_users":
        return [(r["user_id"], r["n"]) for r in rows]
    return rows[0]["n"]


def digest(cs: DataFrame) -> dict[str, int]:
    """The aggregates ``gen.StoreModel.digest`` computes, on the engine."""
    closed = F.unix_seconds(F.col("closed_at").cast("timestamp"))
    row = cs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("id").alias("sum_id"),
        F.sum(F.col("id") * F.col("num_changes")).alias("id_x_changes"),
        F.sum(F.col("id") * F.size("tags")).alias("id_x_tags"),
        F.sum(F.col("id") * F.size("comments")).alias("id_x_comments"),
        F.sum((closed % 100003) * (F.col("id") % 1009)).alias("closed_x_id"),
        F.count(F.when(F.col("open"), 1)).alias("n_open"),
        F.count(F.when(F.col("user_id").isNull(), 1)).alias("n_anon"),
        F.count(F.when(F.col("min_lat").isNotNull(), 1)).alias("n_bbox"),
    ).collect()[0]
    return {k: (v or 0) for k, v in row.asDict().items()}
