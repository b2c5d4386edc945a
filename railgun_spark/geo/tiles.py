"""Web-Mercator (slippy-map) tile operators as native Column expressions.

Reference parity (spatialcurrent/railgun):
- tileX:  int((180+lon) * 2^z / 360)           geo/LongitudeToTile.go:15-17
- tileY:  slippy ln/tan formula                 geo/LatitudeToTile.go:15-18
- inverse transforms                            geo/TileToLongitude.go:15-17,
                                                geo/TileToLatitude.go:16-19
- tile -> bbox [w,s,e,n]                        geo/TileToBoundingBox.go:9-15
- TMS y-flip                                    geo/FlipY.go:40-42
- bbox point filter                             pipeline/Pipeline.go:7,
                                                named/named.go:14
- group-by-tile at finer zoom                   named/named.go:22
- tile tagging for partitioned writes           examples/athena.dfl:11-17

All forward transforms are pure Column arithmetic (no UDF), so they run in
WholeStageCodegen and — crucially for 100 TB — tile columns written with
``write.partitionBy("_tile_z","_tile_x","_tile_y")`` give partition-pruned
reads for tile-bbox queries: Catalyst turns the bbox predicate on the tile
columns into partition pruning before any file is opened (the scalable twin
of the reference's extent short-circuit, handlers/LayerTileHandler.go:117-140).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from railgun_spark.sources.tables import load_events
from railgun_spark.suite import extra_query, query

PI = math.pi


def tile_x(lon: Column, z: Column | int) -> Column:
    """Web-Mercator tile x. Twin of geo/LongitudeToTile.go:15-17."""
    n = F.pow(F.lit(2.0), z)
    return F.floor((lon + F.lit(180.0)) * n / F.lit(360.0)).cast("bigint")


def tile_y(lat: Column, z: Column | int) -> Column:
    """Web-Mercator tile y. Twin of geo/LatitudeToTile.go:15-18:
    floor((1 - ln(tan(lat_rad) + 1/cos(lat_rad)) / pi) / 2 * 2^z)."""
    n = F.pow(F.lit(2.0), z)
    rad = lat * F.lit(PI) / F.lit(180.0)
    return F.floor(
        (F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad)) / F.lit(PI)) / F.lit(2.0) * n
    ).cast("bigint")


# Driver-side inverse transforms (per-request math, never on the data path).
def tile_to_lon(x: float, z: int) -> float:
    """Twin of geo/TileToLongitude.go:15-17."""
    return x / (2.0**z) * 360.0 - 180.0


def tile_to_lat(y: float, z: int) -> float:
    """Twin of geo/TileToLatitude.go:16-19."""
    n = PI - 2.0 * PI * y / (2.0**z)
    return 180.0 / PI * math.atan(0.5 * (math.exp(n) - math.exp(-n)))


def tile_bbox(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    """[w, s, e, n] of a tile. Twin of geo/TileToBoundingBox.go:9-15."""
    return (
        tile_to_lon(x, z),
        tile_to_lat(y + 1, z),
        tile_to_lon(x + 1, z),
        tile_to_lat(y, z),
    )


def flip_y(y: int, z: int) -> int:
    """TMS <-> XYZ y flip. Twin of geo/FlipY.go:40-42."""
    return (2**z) - 1 - y


def bbox_filter(lon: Column, lat: Column, bbox: tuple[float, float, float, float]) -> Column:
    """Null-safe point-in-bbox predicate.
    Twin of pipeline/Pipeline.go:7 / named/named.go:14."""
    w, s, e, n = bbox
    return (
        lon.isNotNull()
        & lat.isNotNull()
        & lon.between(F.lit(w), F.lit(e))
        & lat.between(F.lit(s), F.lit(n))
    )


# --------------------------------------------------------------------------
# Suite queries. The TPC-H tables carry no coordinates, so lon/lat are
# derived deterministically from integer keys (exact in both engines); the
# tile math itself is the unit under test.
# --------------------------------------------------------------------------
def _lon() -> Column:
    return (F.col("event_id") % 3600) / F.lit(10.0) - F.lit(180.0)


def _lat() -> Column:
    return (F.col("user_id") * 11 % 1700) / F.lit(10.0) - F.lit(85.0)
_LON_SQL = "(event_id % 3600) / 10.0 - 180.0"
_LAT_SQL = "(user_id * 11 % 1700) / 10.0 - 85.0"


@query(
    "geo_tile_hist",
    oracle=f"""
    WITH pts AS (
      SELECT {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
    )
    SELECT CAST(floor((lon + 180.0) * 16.0 / 360.0) AS BIGINT) AS tile_x,
           CAST(floor((1.0 - ln(tan(lat * pi() / 180.0) + 1.0 / cos(lat * pi() / 180.0)) / pi())
                      / 2.0 * 16.0) AS BIGINT) AS tile_y,
           count(*) AS n
    FROM pts
    GROUP BY tile_x, tile_y
    ORDER BY tile_x, tile_y
    """,
    doc="group-by-tile (named/named.go:22) at z=4: hist over (tileX, tileY).",
    tags=("geo", "hist"),
)
def geo_tile_hist(spark, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    pts = ev.select(_lon().alias("lon"), _lat().alias("lat"))
    return (
        pts.select(tile_x(F.col("lon"), 4).alias("tile_x"), tile_y(F.col("lat"), 4).alias("tile_y"))
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("tile_x", "tile_y")
    )


@extra_query(
    "geo_bbox_filter",
    oracle=f"""
    WITH pts AS (
      SELECT event_id, event_type, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
    )
    SELECT event_id, event_type, lon, lat
    FROM pts
    WHERE lon BETWEEN -90.0 AND 0.0 AND lat BETWEEN 0.0 AND 60.0
    ORDER BY event_id
    """,
    doc="bbox point filter (pipeline/Pipeline.go:7) — between-predicates, "
    "partition-prunable when tile-partitioned.",
    tags=("geo", "filter"),
)
def geo_bbox_filter(spark, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    pts = ev.select("event_id", "event_type", _lon().alias("lon"), _lat().alias("lat"))
    return pts.filter(bbox_filter(F.col("lon"), F.col("lat"), (-90.0, 0.0, 0.0, 60.0))).orderBy(
        "event_id"
    )


@extra_query(
    "geo_bbox_agg",
    oracle=f"""
    WITH pts AS (
      SELECT event_type, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
    )
    SELECT event_type,
           round(min(lon), 4) AS min_lon, round(min(lat), 4) AS min_lat,
           round(max(lon), 4) AS max_lon, round(max(lat), 4) AS max_lat,
           round(avg(lon), 4) AS centroid_lon, round(avg(lat), 4) AS centroid_lat
    FROM pts GROUP BY event_type ORDER BY event_type
    """,
    doc="bbox(@) + centroid aggregate (osm.sh:106,112) as min/max/avg agg.",
    tags=("geo", "agg"),
)
def geo_bbox_agg(spark, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    pts = ev.select("event_type", _lon().alias("lon"), _lat().alias("lat"))
    return (
        pts.groupBy("event_type")
        .agg(
            F.round(F.min("lon"), 4).alias("min_lon"),
            F.round(F.min("lat"), 4).alias("min_lat"),
            F.round(F.max("lon"), 4).alias("max_lon"),
            F.round(F.max("lat"), 4).alias("max_lat"),
            F.round(F.avg("lon"), 4).alias("centroid_lon"),
            F.round(F.avg("lat"), 4).alias("centroid_lat"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Z-order (Morton) spatial clustering for the 100 TB write path. Writing a
# geo table sorted by the interleaved tile-bit key places spatially-near
# rows in the same parquet files, so a bbox query's min/max column stats
# prune most files BEFORE the scan — the standard lakehouse practice that
# partitionBy(z,x,y) alone can't give once tile cardinality explodes
# (4^z directories at z=14 is 268M partitions; Morton-sorted files need no
# directory fanout at all).
# --------------------------------------------------------------------------
def morton_key(tx: Column, ty: Column, zoom: int) -> Column:
    """Interleave the low `zoom` bits of tile x/y into a Morton code.
    Pure integer Column arithmetic — stays in WholeStageCodegen."""
    key = F.lit(0).cast("bigint")
    x = tx.cast("bigint")
    y = ty.cast("bigint")
    for i in range(zoom):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return key


def morton_key_py(tx: int, ty: int, zoom: int) -> int:
    """Driver-side reference implementation (request-time math + test oracle)."""
    key = 0
    for i in range(zoom):
        key |= ((tx >> i) & 1) << (2 * i)
        key |= ((ty >> i) & 1) << (2 * i + 1)
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    lon: Column,
    lat: Column,
    zoom: int = 12,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered by Morton order: repartitionByRange on the
    Morton key (range-balanced files, one shuffle) + sortWithinPartitions
    (tight per-file min/max stats on _morton/_tile_x/_tile_y for pruning).
    Readers prune with a bbox -> tile-range predicate on the stats columns;
    no directory explosion at high zoom."""
    keyed = df.withColumn("_tile_x", tile_x(lon, zoom)).withColumn("_tile_y", tile_y(lat, zoom))
    keyed = keyed.withColumn("_morton", morton_key(F.col("_tile_x"), F.col("_tile_y"), zoom))
    parts = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        keyed.repartitionByRange(parts, "_morton")
        .sortWithinPartitions("_morton")
        .write.mode(mode)
        .parquet(path)
    )


def read_zordered(
    spark: SparkSession, path: str, bbox: tuple[float, float, float, float], zoom: int = 12
) -> DataFrame:
    """Read a `write_zordered` table pruned to a bbox: the bbox maps to tile
    ranges, and because files are Morton-clustered, each file's _tile_x /
    _tile_y min/max stats are tight — the range predicate skips whole files
    (row-group stats pruning) before any row is decoded. Rows are then
    exact-filtered on the stored coordinates by the caller if needed; this
    returns the tile-level superset (the same contract as the reference's
    tile serving, which operates on tile-tagged rows)."""
    w, s, e, n = bbox
    x_lo = int(math.floor((w + 180.0) * (2.0**zoom) / 360.0))
    x_hi = int(math.floor((e + 180.0) * (2.0**zoom) / 360.0))
    # tile y grows southward: north edge gives the low y
    y_lo = _lat_to_tile_int(n, zoom)
    y_hi = _lat_to_tile_int(s, zoom)
    df = spark.read.parquet(path)
    return df.filter(
        F.col("_tile_x").between(F.lit(x_lo), F.lit(x_hi))
        & F.col("_tile_y").between(F.lit(y_lo), F.lit(y_hi))
    )


WEB_MERCATOR_MAX_LAT = 85.05112878


def _lat_to_tile_int(lat: float, zoom: int) -> int:
    # clamp to the Web-Mercator domain: tan(±90°) overflows and log() raises
    # a math domain error for the natural full-world bbox (-180,-90,180,90)
    lat = max(-WEB_MERCATOR_MAX_LAT, min(WEB_MERCATOR_MAX_LAT, lat))
    rad = lat * PI / 180.0
    return int(
        math.floor((1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad)) / PI) / 2.0 * (2.0**zoom))
    )


def _morton_sql(tx: str, ty: str, zoom: int) -> str:
    """DuckDB twin of morton_key — same bit interleave as SQL text."""
    terms = []
    for i in range(zoom):
        # fully parenthesized: DuckDB's | binds tighter than <<, so a bare
        # `a << k | b << j` chain folds the OR into the next shift
        terms.append(f"(((({tx}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({ty}) >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


@extra_query(
    "geo_zorder_density",
    oracle=f"""
    WITH pts AS (
      SELECT {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
    ), t AS (
      SELECT CAST(floor((lon + 180.0) * 256.0 / 360.0) AS BIGINT) AS tx,
             CAST(floor((1.0 - ln(tan(lat * pi() / 180.0)
                          + 1.0 / cos(lat * pi() / 180.0)) / pi())
                        / 2.0 * 256.0) AS BIGINT) AS ty
      FROM pts
    ), m AS (
      SELECT tx, ty, {_morton_sql('tx', 'ty', 8)} AS morton FROM t
    )
    SELECT morton, tx AS tile_x, ty AS tile_y, count(*) AS n
    FROM m GROUP BY morton, tx, ty
    ORDER BY n DESC, morton LIMIT 10
    """,
    doc="Densest z=8 Morton cells: the bit-interleave clustering key "
    "(write_zordered) certified cross-engine — pure integer shift/mask "
    "Column arithmetic, fully codegen'd; the write path sorts 100 TB by "
    "this key for file-stats bbox pruning without directory fanout.",
    tags=("geo", "zorder"),
)
def geo_zorder_density(spark, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    pts = ev.select(_lon().alias("lon"), _lat().alias("lat"))
    t = pts.select(
        tile_x(F.col("lon"), 8).alias("tile_x"), tile_y(F.col("lat"), 8).alias("tile_y")
    )
    m = t.withColumn("morton", morton_key(F.col("tile_x"), F.col("tile_y"), 8))
    return (
        m.groupBy("morton", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "morton")
        .limit(10)
        .select("morton", "tile_x", "tile_y", "n")
    )


# --------------------------------------------------------------------------
# Bing quadkey encoding: the tile's (x, y, z) as a base-4 string whose
# PREFIXES are its ancestors — `substr(qk, 1, z')` is the z'-zoom parent,
# which makes zoom-out rollups a substring groupBy (no re-projection) and
# gives lexicographic locality for range pruning, complementing the Morton
# integer key (write_zordered) with a human-readable hierarchical form.
# Pure integer bit arithmetic per level — identical in Spark and DuckDB.
# --------------------------------------------------------------------------
def quadkey(tx: Column, ty: Column, zoom: int) -> Column:
    """digit_i = xbit + 2*ybit at level i (most significant level first)."""
    digits = []
    for i in range(zoom, 0, -1):
        mask = 1 << (i - 1)
        d = (
            F.when(tx.bitwiseAND(F.lit(mask)) != 0, 1).otherwise(0)
            + F.when(ty.bitwiseAND(F.lit(mask)) != 0, 2).otherwise(0)
        )
        digits.append(d.cast("string"))
    return F.concat(*digits)


def _quadkey_sql(tx: str, ty: str, zoom: int) -> str:
    parts = []
    for i in range(zoom, 0, -1):
        mask = 1 << (i - 1)
        parts.append(
            f"CAST((CASE WHEN ({tx} & {mask}) != 0 THEN 1 ELSE 0 END"
            f" + CASE WHEN ({ty} & {mask}) != 0 THEN 2 ELSE 0 END) AS VARCHAR)"
        )
    return " || ".join(parts)


QUADKEY_Z = 6
QUADKEY_PARENT_Z = 3


@extra_query(
    "geo_quadkey_rollup",
    oracle=f"""
    WITH pts AS (
      SELECT {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
    ), tiles AS (
      SELECT CAST(floor((lon + 180.0) * {2**QUADKEY_Z}.0 / 360.0) AS BIGINT) AS tx,
             CAST(floor((1.0 - ln(tan(lat * pi() / 180.0) + 1.0 / cos(lat * pi() / 180.0)) / pi())
                        / 2.0 * {2**QUADKEY_Z}.0) AS BIGINT) AS ty
      FROM pts
    ), qk AS (
      SELECT {_quadkey_sql('tx', 'ty', QUADKEY_Z)} AS quadkey FROM tiles
    )
    SELECT substr(quadkey, 1, {QUADKEY_PARENT_Z}) AS parent_quadkey,
           count(*) AS n,
           count(DISTINCT quadkey) AS n_child_tiles
    FROM qk
    GROUP BY parent_quadkey
    ORDER BY parent_quadkey
    """,
    doc=f"Bing quadkey at z={QUADKEY_Z} rolled up to its z={QUADKEY_PARENT_Z} "
    "ancestor by string PREFIX — the hierarchy property that makes "
    "zoom-out aggregation a substring groupBy with no re-projection; "
    "integer bit arithmetic per level, exact on both engines.",
    tags=("geo", "hist"),
)
def geo_quadkey_rollup(spark, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    tiles = ev.select(
        tile_x(_lon(), QUADKEY_Z).alias("tx"), tile_y(_lat(), QUADKEY_Z).alias("ty")
    )
    qk = tiles.select(quadkey(F.col("tx"), F.col("ty"), QUADKEY_Z).alias("quadkey"))
    return (
        qk.groupBy(
            F.substring("quadkey", 1, QUADKEY_PARENT_Z).alias("parent_quadkey")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("quadkey").alias("n_child_tiles"),
        )
        .orderBy("parent_quadkey")
    )


# --------------------------------------------------------------------------
# Geohash — the third hierarchical cell key next to Bing quadkeys and
# Morton/Z-order, and the one with the public base32 text form (elasticsearch
# / redis / postgres ecosystems). Same prefix-hierarchy property as the
# quadkey: truncating k characters yields the ancestor cell, so zoom-out
# rollups are substring groupBys. Encoding is pure integer Column
# arithmetic: quantize lon/lat, interleave bits MSB-first starting with
# lon (NOT plain Morton — that only coincides when lon gets one bit more
# than lat, i.e. odd precision), then map 5-bit groups through the base32
# alphabet. Identical SQL emitted for the DuckDB oracle.
# --------------------------------------------------------------------------
GEOHASH_ALPHA = "0123456789bcdefghjkmnpqrstuvwxyz"
GEOHASH_PRECISION = 5  # 25 bits: 13 lon + 12 lat (~4.9 km cells)


def _geohash_bit_plan(precision: int) -> list[tuple[str, int, int]]:
    """(source, source_bit, target_position) per bit: MSB-first, lon first."""
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total - lon_bits
    plan = []
    for k in range(total):
        pos = total - 1 - k
        if k % 2 == 0:
            plan.append(("x", lon_bits - 1 - k // 2, pos))
        else:
            plan.append(("y", lat_bits - 1 - (k - 1) // 2, pos))
    return plan


def geohash(lon: Column, lat: Column, precision: int = GEOHASH_PRECISION) -> Column:
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total - lon_bits
    # clamp to the last cell: lat=90 / lon=180 quantize to 2^bits, whose
    # low bits are all zero — without the clamp the north pole would
    # encode as the SOUTH-pole cell (and +180 as -180)
    x = F.least(
        F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << lon_bits))),
        F.lit((1 << lon_bits) - 1),
    ).cast("bigint")
    y = F.least(
        F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << lat_bits))),
        F.lit((1 << lat_bits) - 1),
    ).cast("bigint")
    code = F.lit(0).cast("bigint")
    for src, src_bit, pos in _geohash_bit_plan(precision):
        bit = F.shiftright(x if src == "x" else y, src_bit).bitwiseAND(F.lit(1))
        code = code.bitwiseOR(F.shiftleft(bit, pos))
    chars = [
        F.lit(GEOHASH_ALPHA).substr(
            (F.shiftright(code, 5 * (precision - 1 - i)).bitwiseAND(F.lit(31)) + 1).cast(
                "int"
            ),
            F.lit(1),
        )
        for i in range(precision)
    ]
    return F.concat(*chars)


def _geohash_sql(lon: str, lat: str, precision: int = GEOHASH_PRECISION) -> str:
    """DuckDB twin of `geohash` — identical quantization and bit plan."""
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total - lon_bits
    x = (
        f"CAST(least(floor((({lon}) + 180.0) / 360.0 * {1 << lon_bits}.0), "
        f"{(1 << lon_bits) - 1}) AS BIGINT)"
    )
    y = (
        f"CAST(least(floor((({lat}) + 90.0) / 180.0 * {1 << lat_bits}.0), "
        f"{(1 << lat_bits) - 1}) AS BIGINT)"
    )
    terms = [
        f"(((({x if src == 'x' else y}) >> {src_bit}) & 1) << {pos})"
        for src, src_bit, pos in _geohash_bit_plan(precision)
    ]
    code = "(" + " | ".join(terms) + ")"
    chars = [
        f"substr('{GEOHASH_ALPHA}', CAST((({code} >> {5 * (precision - 1 - i)}) & 31) + 1 AS INT), 1)"
        for i in range(precision)
    ]
    return " || ".join(chars)


GEOHASH_PARENT_LEN = 3


@extra_query(
    "geo_geohash_rollup",
    oracle=f"""
    WITH pts AS (
      SELECT {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
    ), gh AS (
      SELECT {_geohash_sql('lon', 'lat')} AS geohash FROM pts
    )
    SELECT substr(geohash, 1, {GEOHASH_PARENT_LEN}) AS parent_cell,
           count(*) AS n,
           count(DISTINCT geohash) AS n_child_cells
    FROM gh
    GROUP BY parent_cell
    ORDER BY n DESC, parent_cell
    LIMIT 25
    """,
    doc=f"Geohash (precision {GEOHASH_PRECISION}) rolled up to its "
    f"{GEOHASH_PARENT_LEN}-char ancestor by string prefix — base32 cell "
    "keys as pure integer bit-plan Column arithmetic, cross-engine exact.",
    tags=("geo", "hist"),
)
def geo_geohash_rollup(spark, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    gh = ev.select(geohash(_lon(), _lat()).alias("geohash"))
    return (
        gh.groupBy(F.substring("geohash", 1, GEOHASH_PARENT_LEN).alias("parent_cell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("geohash").alias("n_child_cells"),
        )
        .orderBy(F.desc("n"), "parent_cell")
        .limit(25)
    )
