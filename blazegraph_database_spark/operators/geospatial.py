"""Geospatial search (SURVEY.md §2.7) — Spark-first analog of the
reference's geospatial service (ref: bigdata-core/.../service/geospatial/
GeoSpatialQuery.java and its Z-order ("zOrder") index encoding; custom
datatype registry per GeoSpatialConfig.java:52).

The reference keys a B+Tree on a Z-order (Morton) interleave of quantized
(lat, lon) so range scans prune both dimensions. The Spark analog:
- `zorder_key` builds the same Morton code as a pure expression — used as
  the *write-time sort key* so parquet row-group min/max stats prune both
  dims on read (the B+Tree-range analog).
- `grid_cell` is a coarse (lat, lon) cell id used as the *partition key*;
  rectangle/circle queries enumerate candidate cells driver-side (a tiny
  list) and prune partitions with isin before the exact predicate.
- Exact predicates: rectangle compare, Haversine distance (expression-only
  trig, JVM codegen).

Search results carry distance_km for circle queries (ref:
GeoSpatial.DISTANCE_FIELD).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from blazegraph_database_spark.session import local_df

EARTH_RADIUS_KM = 6371.0


def quantize(value: Column, lo: float, hi: float, bits: int) -> Column:
    """Map [lo, hi] to [0, 2^bits) as long."""
    steps = (1 << bits) - 1
    frac = (value - F.lit(lo)) / F.lit(hi - lo)
    return F.least(F.greatest(F.round(frac * steps).cast("long"), F.lit(0)), F.lit(steps))


def _spread2(x: Column) -> Column:
    """Insert one zero bit between each of the low 16 bits (classic Morton
    magic-mask spreading): 4 shift/or/mask steps instead of a per-bit loop.
    Besides being ~bits× fewer row operations, the COMPACT expression tree
    is what keeps z-key filters compilable — the per-bit form inlined into
    a 16-range disjunction grew one generated method past janino's 64 KB
    limit (docs/scale_notes.md "Codegen method limits")."""
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x3333333333333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x5555555555555555))
    return x


def _spread3(x: Column) -> Column:
    """Insert two zero bits between each of the low 21 bits (3-D Morton
    magic masks, libmorton's constants)."""
    x = x.bitwiseOR(F.shiftleft(x, 32)).bitwiseAND(F.lit(0x001F00000000FFFF))
    x = x.bitwiseOR(F.shiftleft(x, 16)).bitwiseAND(F.lit(0x001F0000FF0000FF))
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x100F00F00F00F00F))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x10C30C30C30C30C3))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x1249249249249249))
    return x


def zorder_key(lat: Column, lon: Column, bits: int = 16) -> Column:
    """Morton interleave of quantized lat/lon (lat bits even, lon odd).
    Magic-mask spreading (supports bits <= 16), bit-identical to the
    per-bit interleave zorder_nd computes for the generic N-dim case."""
    if bits > 16:
        raise ValueError("zorder_key supports at most 16 bits per dimension")
    qlat, qlon = quantize(lat, -90.0, 90.0, bits), quantize(lon, -180.0, 180.0, bits)
    return _spread2(qlat).bitwiseOR(F.shiftleft(_spread2(qlon), 1))


def grid_cell(lat: Column, lon: Column, cell_deg: float = 10.0) -> Column:
    """Coarse partition cell id: floor-grid over degrees."""
    la = F.floor(lat / cell_deg).cast("long")
    lo = F.floor(lon / cell_deg).cast("long")
    return la * 360 + lo


def candidate_cells(lat0: float, lat1: float, lon0: float, lon1: float, cell_deg: float = 10.0) -> list[int]:
    """Driver-side cell enumeration for a bounding box (tiny list)."""
    cells = []
    la = math.floor(lat0 / cell_deg)
    while la <= math.floor(lat1 / cell_deg):
        lo = math.floor(lon0 / cell_deg)
        while lo <= math.floor(lon1 / cell_deg):
            cells.append(int(la * 360 + lo))
            lo += 1
        la += 1
    return cells


def in_rectangle(
    df: DataFrame,
    lat0: float,
    lat1: float,
    lon0: float,
    lon1: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_deg: float = 10.0,
) -> DataFrame:
    """Rows inside [lat0,lat1]x[lon0,lon1]. Cell prefilter prunes partitions
    (on a cell-partitioned store); the exact compare runs on survivors."""
    lat, lon = F.col(lat_col), F.col(lon_col)
    cells = candidate_cells(lat0, lat1, lon0, lon1, cell_deg)
    return df.filter(grid_cell(lat, lon, cell_deg).isin(cells)).filter(
        (lat >= lat0) & (lat <= lat1) & (lon >= lon0) & (lon <= lon1)
    )


def zorder3_key(
    lat: Column,
    lon: Column,
    ts_epoch: Column,
    t_lo: int,
    t_hi: int,
    bits: int = 8,
) -> Column:
    """3-dimensional Morton interleave of quantized (lat, lon, time) — the
    Spark analog of the reference's configurable multi-dimensional
    geospatial datatypes (ref: service/geospatial/GeoSpatialConfig.java:52,
    whose lat+lon+time datatype keys the index on exactly this interleave).

    ``ts_epoch`` is epoch seconds; [t_lo, t_hi] is the quantization range
    (the reference likewise fixes a per-datatype value range). Bit layout:
    lat stripes 3i, lon 3i+1, time 3i+2 — a write-time sort on this key
    gives parquet row groups min/max locality in all three dimensions.
    """
    if bits > 21:
        raise ValueError("zorder3_key supports at most 21 bits per dimension")
    qlat = quantize(lat, -90.0, 90.0, bits)
    qlon = quantize(lon, -180.0, 180.0, bits)
    qt = quantize(ts_epoch.cast("double"), float(t_lo), float(t_hi), bits)
    return (
        _spread3(qlat)
        .bitwiseOR(F.shiftleft(_spread3(qlon), 1))
        .bitwiseOR(F.shiftleft(_spread3(qt), 2))
    )


def in_rectangle_time(
    df: DataFrame,
    lat0: float,
    lat1: float,
    lon0: float,
    lon1: float,
    t0: str,
    t1: str,
    lat_col: str = "lat",
    lon_col: str = "lon",
    ts_col: str = "ts",
    cell_deg: float = 10.0,
) -> DataFrame:
    """Rows inside [lat0,lat1]x[lon0,lon1] with ts in [t0, t1] — the
    reference's lat+lon+time range query (GeoSpatialQuery with a time
    dimension). Spatial cell prefilter prunes partitions; the timestamp
    range predicate is a plain column compare, so on a ts-partitioned or
    z3-sorted store it reaches the parquet reader as a pushed filter."""
    boxed = in_rectangle(df, lat0, lat1, lon0, lon1, lat_col, lon_col, cell_deg)
    ts = F.col(ts_col)
    return boxed.filter((ts >= F.lit(t0).cast("timestamp")) & (ts <= F.lit(t1).cast("timestamp")))


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) ** 2 + F.cos(rl1) * F.cos(rl2) * F.sin(dlon) ** 2
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def in_circle(
    df: DataFrame,
    center_lat: float,
    center_lon: float,
    radius_km: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_deg: float = 10.0,
) -> DataFrame:
    """Rows within radius_km of the center, with distance_km attached.
    Bounding-box cell prefilter first; exact Haversine on survivors."""
    # 10% margin: the flat-earth box underestimates the circle's lon extent
    # at its extreme latitudes; the box only prefilters, the Haversine
    # predicate decides, so over-covering is safe and under-covering is not.
    dlat = math.degrees(radius_km / EARTH_RADIUS_KM) * 1.1
    dlon = dlat / max(math.cos(math.radians(center_lat)), 1e-9)
    boxed = in_rectangle(
        df,
        center_lat - dlat,
        center_lat + dlat,
        center_lon - dlon,
        center_lon + dlon,
        lat_col,
        lon_col,
        cell_deg,
    )
    dist = haversine_km(F.lit(center_lat), F.lit(center_lon), F.col(lat_col), F.col(lon_col))
    return boxed.withColumn("distance_km", F.round(dist, 1)).filter(
        F.col("distance_km") <= radius_km
    )


# ---------------------------------------------- z-order range decomposition --
def _quantize_py(value: float, lo: float, hi: float, bits: int) -> int:
    """Driver-side mirror of `quantize` (same HALF_UP rounding as F.round)."""
    steps = (1 << bits) - 1
    q = math.floor(((value - lo) / (hi - lo)) * steps + 0.5)
    return min(max(q, 0), steps)


def zorder_ranges(
    lat0: float,
    lat1: float,
    lon0: float,
    lon1: float,
    bits: int = 16,
    max_ranges: int = 64,
    depth_limit: int = 8,
) -> list[tuple[int, int]]:
    """Decompose a rectangle into contiguous Morton-key ranges — the Spark
    analog of the reference's BIGMIN advancer (ref: service/geospatial/
    ZOrderIndexBigMinAdvancer.java, which skips a B+Tree range scan forward
    past z-key runs that leave the query rectangle). Here the skip list is
    computed up front: a driver-side quadtree walk emits the aligned quads
    fully inside the (quantized) rectangle as exact contiguous key ranges,
    recursion stops at `depth_limit` (boundary quads over-cover — safe, the
    exact predicate refines), and adjacent/nearest ranges coalesce until at
    most `max_ranges` remain. The ranges become `zkey BETWEEN lo AND hi`
    disjuncts: on a zorder_key-sorted parquet layout they reach the reader
    as pushed min/max filters, so row groups outside every range are never
    read — a pure-key scan, no lat/lon columns needed to prune."""
    qx0, qx1 = _quantize_py(lat0, -90.0, 90.0, bits), _quantize_py(lat1, -90.0, 90.0, bits)
    qy0, qy1 = _quantize_py(lon0, -180.0, 180.0, bits), _quantize_py(lon1, -180.0, 180.0, bits)
    ranges: list[tuple[int, int]] = []

    # cell = (xbase, ybase, level): an aligned quad of side 2^(bits-level).
    def walk(xb: int, yb: int, level: int, z_prefix: int) -> None:
        side = 1 << (bits - level)
        x_hi, y_hi = xb + side - 1, yb + side - 1
        if x_hi < qx0 or xb > qx1 or y_hi < qy0 or yb > qy1:
            return
        span = 1 << (2 * (bits - level))  # z keys inside this quad
        if (xb >= qx0 and x_hi <= qx1 and yb >= qy0 and y_hi <= qy1) or level >= depth_limit:
            ranges.append((z_prefix, z_prefix + span - 1))
            return
        half = side >> 1
        quarter = span >> 2
        # children in z order: (x,y) bit pair (0,0) (0,1) (1,0) (1,1) →
        # lat contributes the even bit, lon the odd bit
        walk(xb, yb, level + 1, z_prefix)
        walk(xb, yb + half, level + 1, z_prefix + 2 * quarter)  # lon bit = 1
        walk(xb + half, yb, level + 1, z_prefix + quarter)  # lat bit = 1
        walk(xb + half, yb + half, level + 1, z_prefix + 3 * quarter)

    walk(0, 0, 0, 0)
    ranges.sort()
    # exact merge of touching ranges
    merged: list[list[int]] = []
    for lo, hi in ranges:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    # budget: coalesce across the smallest gaps (over-covers; refine decides)
    while len(merged) > max_ranges:
        gaps = [(merged[i + 1][0] - merged[i][1], i) for i in range(len(merged) - 1)]
        _, i = min(gaps)
        merged[i][1] = merged[i + 1][1]
        del merged[i + 1]
    return [(lo, hi) for lo, hi in merged]


def in_rectangle_zorder(
    df: DataFrame,
    lat0: float,
    lat1: float,
    lon0: float,
    lon1: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    zkey_col: str | None = None,
    bits: int = 16,
    max_ranges: int = 64,
) -> DataFrame:
    """Rectangle search driven by the z-order key alone: the precomputed
    range list prunes (pure-key scan — on a store carrying a persisted
    `zkey` column this is the only pruning predicate and it pushes to
    parquet), then the exact rectangle compare refines boundary cells.
    Results are identical to `in_rectangle`.

    Without a persisted key the z-ranges have no pruning power (quantize is
    monotone, so rectangle membership implies z-range membership) and the
    computed-key path short-circuits to the exact filter — re-deriving the
    key per row only re-created the janino 64 KB codegen blowup fixed in
    r10 (see docs/scale_notes.md "Codegen method limits"). With a persisted
    ``zkey_col`` the range disjunction hits the leaf column directly and
    pushes to parquet — that is the scan-pruning tier."""
    lat, lon = F.col(lat_col), F.col(lon_col)
    exact = (lat >= lat0) & (lat <= lat1) & (lon >= lon0) & (lon <= lon1)
    if not zkey_col:
        # COMPUTED key: the exact rectangle filter pushes to the scan, and
        # because quantization is monotone every row inside the rectangle
        # necessarily lands inside the z-range disjunction — the range list
        # has zero pruning power here (that's what the persisted zkey_col
        # path is for). Evaluating up to max_ranges BETWEEN disjuncts per
        # surviving row is dead work, and inlining the Morton interleave
        # into each disjunct is what blew janino's 64 KB method limit in
        # r10 — so short-circuit to the exact filter alone. Result-
        # identical by the monotonicity argument (parity-tested).
        return df.filter(exact)
    zkey = F.col(zkey_col)
    rngs = zorder_ranges(lat0, lat1, lon0, lon1, bits=bits, max_ranges=max_ranges)
    cond = None
    for lo, hi in rngs:
        piece = (zkey >= lo) & (zkey <= hi)
        cond = piece if cond is None else (cond | piece)
    if cond is None:
        cond = F.lit(False)
    return df.filter(cond).filter(exact)


# ------------------------------------------------- custom datatype registry --
from dataclasses import dataclass  # noqa: E402


@dataclass(frozen=True)
class GeoDim:
    """One dimension of a geospatial datatype: value range + name (ref:
    GeoSpatialDatatypeFieldConfiguration — each field declares valueType,
    min/max and serializer mapping)."""

    name: str
    lo: float
    hi: float


@dataclass(frozen=True)
class GeoDatatype:
    """A registered multi-dimensional geospatial datatype (ref:
    GeoSpatialConfig.java:52 — the reference lets deployments declare
    datatypes like lat+lon, lat+lon+time, lat+lon+altitude+time with
    custom literal serializers). ``bits`` is the per-dimension
    quantization of the N-way Morton key."""

    uri: str
    dims: tuple
    bits: int = 8

    def dim(self, name: str) -> GeoDim:
        for d in self.dims:
            if d.name == name:
                return d
        raise KeyError(f"datatype <{self.uri}> has no dimension {name!r}")


_GEO_DATATYPES: dict[str, GeoDatatype] = {}


def register_geo_datatype(dt: GeoDatatype) -> GeoDatatype:
    _GEO_DATATYPES[dt.uri] = dt
    return dt


def get_geo_datatype(uri: str) -> GeoDatatype:
    if uri not in _GEO_DATATYPES:
        raise KeyError(f"no geospatial datatype registered for <{uri}>")
    return _GEO_DATATYPES[uri]


# the reference ships lat+lon and lat+lon+time built-ins; same here
LAT_LON = register_geo_datatype(
    GeoDatatype(
        "geo:lat-lon",
        (GeoDim("lat", -90.0, 90.0), GeoDim("lon", -180.0, 180.0)),
    )
)
LAT_LON_TIME = register_geo_datatype(
    GeoDatatype(
        "geo:lat-lon-time",
        (GeoDim("lat", -90.0, 90.0), GeoDim("lon", -180.0, 180.0),
         GeoDim("time", 0.0, 4102444800.0)),  # epoch range through 2100
    )
)


def parse_geo_literal(lit: Column, dt: GeoDatatype, sep: str = "#") -> list[Column]:
    """Custom-serializer literal → per-dimension double columns ("12.3#4.5#
    1704067200" → lat, lon, time; ref: the datatype's literal serializer)."""
    parts = F.split(lit, sep)
    return [parts.getItem(i).cast("double").alias(d.name) for i, d in enumerate(dt.dims)]


def geo_literal(cols: list[Column], sep: str = "#") -> Column:
    """Per-dimension columns → datatype literal (round-trip of
    parse_geo_literal)."""
    return F.concat_ws(sep, *[c.cast("string") for c in cols])


def zorder_nd(cols: list[Column], dt: GeoDatatype) -> Column:
    """N-way Morton interleave over the datatype's dimensions: dim d
    contributes bit i at position N*i+d. With the built-in lat-lon datatype
    this reproduces `zorder_key` bit-for-bit; with lat-lon-time it matches
    `zorder3_key`. Sort parquet writes on this key for min/max locality in
    every declared dimension."""
    n = len(dt.dims)
    if len(cols) != n:
        raise ValueError(f"datatype <{dt.uri}> has {n} dims, got {len(cols)} columns")
    qs = [quantize(c.cast("double"), d.lo, d.hi, dt.bits) for c, d in zip(cols, dt.dims)]
    key = F.lit(0).cast("long")
    for i in range(dt.bits):
        for d, q in enumerate(qs):
            key = key.bitwiseXOR(
                F.shiftleft(F.shiftright(q, i).bitwiseAND(F.lit(1)), n * i + d)
            )
    return key


def range_query_nd(
    df: DataFrame, dt: GeoDatatype, bounds: dict, cols: dict | None = None
) -> DataFrame:
    """Multi-dimensional range query over a registered datatype:
    ``bounds = {dim_name: (lo, hi)}`` (dims omitted are unconstrained).
    Each bound compiles to a plain column range predicate — pushed to the
    parquet reader, where a zorder_nd-sorted layout turns them into
    row-group min/max pruning in every bounded dimension (the Spark analog
    of the reference's ZOrderIndexBigMinAdvancer range scan)."""
    cols = cols or {}
    out = df
    for name, (lo, hi) in bounds.items():
        dt.dim(name)  # validates the dimension exists
        c = F.col(cols.get(name, name))
        out = out.filter((c >= lo) & (c <= hi))
    return out


def knn(
    df: DataFrame,
    lat0: float,
    lon0: float,
    k: int = 10,
    lat_col: str = "lat",
    lon_col: str = "lon",
    id_col: str = "event_id",
    band_deg: float = 5.0,
) -> DataFrame:
    """Exact k-nearest-neighbor search with expanding latitude-band pruning
    — the index-accelerated kNN shape on top of the same pruning economics
    as the rectangle/z-order scans (ref: GeoSpatialQuery's index-driven
    search; kNN is this repo's extension of it).

    Phase 1 grows a ±band around the query latitude until it holds >= k
    points (each probe is one bounded top-k job). Phase 2 derives the
    exact completeness radius from the candidate k-th distance: any point
    that could still enter the rounded top-k lies within
    degrees(D + 0.05) of the query latitude (haversine >= R*radians(dlat),
    and 0.05 covers the 1-decimal rounding boundary), so ONE final scan of
    that band is provably sufficient — the result equals brute force,
    ties broken by (rounded distance, id). On a lat-sorted / z-ordered
    store every band filter prunes row groups; the full-table scan never
    happens."""
    import math

    R = 6371.0
    dist = F.round(haversine_km(F.col(lat_col), F.col(lon_col), F.lit(lat0), F.lit(lon0)), 1)
    scored = df.select(id_col, dist.alias("distance_km"))

    def band_top(width_deg: float):
        band = df.filter(
            (F.col(lat_col) >= lat0 - width_deg) & (F.col(lat_col) <= lat0 + width_deg)
        ).select(id_col, dist.alias("distance_km"))
        return band.orderBy("distance_km", id_col).limit(k)

    width = band_deg
    rows = band_top(width).collect()
    while len(rows) < k and width < 180.0 + abs(lat0):
        width += band_deg
        rows = band_top(width).collect()
    if not rows:
        return scored.limit(0)
    d_k = rows[-1]["distance_km"]
    # completeness band: everything that could round into the top-k
    need = math.degrees((d_k + 0.05) / R)
    if need > width:
        rows = band_top(need).collect()
    spark = df.sparkSession
    return local_df(spark, rows, f"{id_col} long, distance_km double")


# --------------------------------------------------------------------------
# Registered datatype CONFIGS with per-field multipliers (round 7; ref:
# GeoSpatialDatatypeConfiguration JSON — "fields": [{valueType, multiplier,
# serviceMapping}, ...] — and GeoSpatialLiteralExtension: literals are packed
# into quantized z-order IVs at LOAD, so every read reconstructs the lexical
# from the quantized components and query bounds quantize the same way).


@dataclass(frozen=True)
class GeoFieldSpec:
    """One field of a registered geo datatype config."""

    value_type: str  # "DOUBLE" | "LONG"
    multiplier: int = 1


@dataclass(frozen=True)
class GeoLiteralSerializer:
    """App-registerable literal serializer for a geospatial datatype (ref:
    bigdata-core/bigdata-rdf/src/java/com/bigdata/service/geospatial/
    IGeoSpatialLiteralSerializer.java:1 — ``toComponents``/``fromComponents``
    define the stored lexical's wire format; the ``serialize_*`` hooks
    define how EXTRACTED service output values render, the contract the
    reference's GeoSpatialDummyLiteralSerializer/WKT test serializers
    exercise). Every hook is a Column-expression function, so custom wire
    formats stay JVM-side expressions — no UDFs:

    - ``to_components(o_lex, n) -> [Column]``: lexical → n component strings
    - ``from_components([Column]) -> Column``: components → lexical
    - ``serialize_location(lat, lon)``, ``serialize_location_and_time(lat,
      lon, t)``, ``serialize_time(t)``, ``serialize_latitude(lat)``,
      ``serialize_longitude(lon)``, ``serialize_coord_system(c)``,
      ``serialize_custom_fields(*fields)``, ``serialize_distance(d, unit)``
      — all receive/return string Columns; ``None`` keeps the default
      rendering (the identity pass-through of the default serializer).
    """

    to_components: object = None
    from_components: object = None
    serialize_location: object = None
    serialize_location_and_time: object = None
    serialize_time: object = None
    serialize_latitude: object = None
    serialize_longitude: object = None
    serialize_coord_system: object = None
    serialize_custom_fields: object = None
    serialize_distance: object = None


# datatype IRI -> GeoLiteralSerializer (GeoSpatialConfig's per-datatype
# literalSerializer registration)
_GEO_LITERAL_SERIALIZERS: dict[str, GeoLiteralSerializer] = {}


def register_geo_literal_serializer(
    dtiri: str, ser: GeoLiteralSerializer, replace: bool = True
) -> None:
    """Register a literal serializer for a geospatial datatype IRI (the
    GEO_SPATIAL_DATATYPE_CONFIG ``literalSerializer`` analog)."""
    if not replace and dtiri in _GEO_LITERAL_SERIALIZERS:
        raise ValueError(f"geo literal serializer already registered: {dtiri}")
    _GEO_LITERAL_SERIALIZERS[dtiri] = ser


def geo_literal_serializer(dtiri: str | None) -> GeoLiteralSerializer | None:
    return _GEO_LITERAL_SERIALIZERS.get(dtiri) if dtiri else None


def quantize_bound(lex: str, mult: int) -> float:
    """Quantize a query bound exactly the way the reference encodes it
    (BigDecimal multiply + longValue = truncate toward zero), then map back
    to the component domain. Decimal math keeps '1.2'*100000 exact."""
    from decimal import Decimal

    return int(Decimal(lex) * mult) / mult


def _quantized_field(part: Column, spec: GeoFieldSpec) -> Column:
    """Lexical component → quantized canonical lexical (NULL if unparseable):
    DOUBLE renders Double.toString-style ('1.1', '4.0'); LONG as integer.
    A LONG field accepts only integer-shaped lexicals — casting '1.5'
    through decimal(30,0) would round half-up to 2 where the reference's
    long parse REJECTS it, so a fractional lexical nulls out here and the
    caller's keep-as-written discipline preserves the literal."""
    if spec.value_type == "DOUBLE":
        q = (part.try_cast("decimal(30,12)") * F.lit(spec.multiplier)).cast("long")
        return (q.cast("double") / F.lit(float(spec.multiplier))).cast("string")
    as_int = F.when(part.rlike("^-?[0-9]+$"), part).otherwise(F.lit(None))
    q = (as_int.try_cast("decimal(30,0)") * F.lit(spec.multiplier)).cast("long")
    return F.floor(q / F.lit(spec.multiplier)).cast("long").cast("string")


def requantize_geo_literals(df: DataFrame, configs: dict) -> DataFrame:
    """Ingest re-serialization of registered geospatial datatype literals:
    each component truncates to its multiplier's granularity and re-renders
    canonically ('6.6666666' at x1e5 reads back '6.66666'; 'Point(1,1)'
    reads back 'Point(1.0,1.0)'). ``configs`` maps datatype IRI → ordered
    [GeoFieldSpec]; WKT-serializer datatypes (IRIs ending 'wktLiteral')
    parse/render the Point(a,b) form. Unparseable literals keep their
    written form (per-row discipline). One expression pass per config
    CHUNK, no shuffle — multi-datatype registrations compile in chunks of
    ``_REQUANTIZE_CHUNK`` configs so the generated per-row rewrite never
    nests more than a bounded number of quantize trees (r8; a 5-config
    store compiled one 5-level nested CASE whose generated code overflowed
    the janino compile-thread stack under full-suite load — same lesson as
    the date-canonicalization codegen OOM)."""
    items = list(configs.items())
    if not items:
        # keep the pre-chunking contract: callers rely on the returned
        # relation being plan-barriered even for an empty registration
        return df.localCheckpoint(eager=True)
    for i in range(0, len(items), _REQUANTIZE_CHUNK):
        df = _requantize_chunk(df, dict(items[i : i + _REQUANTIZE_CHUNK]))
    return df


_REQUANTIZE_CHUNK = 2


def _requantize_chunk(df: DataFrame, configs: dict) -> DataFrame:
    out = df
    for dtiri, fields in configs.items():
        is_dt = F.col("o_dt") == f"dt:{dtiri}"
        if dtiri.endswith("wktLiteral"):
            rx = r"^Point\(\s*(-?[0-9.]+)\s*,\s*(-?[0-9.]+)\s*\)$"
            comps = [F.regexp_extract(F.col("o_lex"), rx, i + 1) for i in range(2)]
            qs = [_quantized_field(c, s) for c, s in zip(comps, fields[:2])]
            new = F.concat(F.lit("Point("), qs[0], F.lit(","), qs[1], F.lit(")"))
            ok = (comps[0] != "") & (comps[1] != "")
        else:
            parts = F.split(F.col("o_lex"), "#")
            qs = [_quantized_field(parts.getItem(i), s) for i, s in enumerate(fields)]
            new = F.concat_ws("#", *qs)
            ok = F.size(parts) == len(fields)
        for q in qs:
            ok = ok & q.isNotNull()
        out = out.withColumn(
            "o_lex", F.when(is_dt & ok, new).otherwise(F.col("o_lex"))
        )
    # ingest-time step: pin the requantized relation. Without a plan
    # barrier, CollapseProject inlines the per-field decimal rewrite into
    # every downstream consumer of o_lex (each split/filter/projection
    # duplicates the whole rewrite tree — measured codegen OOM on a
    # 10-row store). At scale this sits where the store write already
    # materializes, so the checkpoint costs nothing extra.
    return out.localCheckpoint(eager=True)


# Unit factors to meters (ref: ICoordinate.UNITS + CoordinateUtility
# unitsToMeters; the service default is Kilometers — GeoSpatial.java:125).
UNITS_TO_METERS = {
    "Meters": 1.0,
    "Kilometers": 1000.0,
    "Feet": 0.3048,
    "Miles": 1609.344,
    "NauticalMiles": 1852.0,
}


def ref_distance_m(center_lat: float, center_lon: float, lat: Column, lon: Column) -> Column:
    """The reference's EXACT point distance (CoordinateUtility.
    distanceInMeters): spherical law of cosines, scaled
    degrees * 60 * 1.1515 * 1609.344 meters. Identical points
    short-circuit to 0 (the reference's BLZG-1897 fix); acos of a
    rounding-past-1 cosine yields NaN and the comparison drops the row,
    exactly like Math.acos."""
    cos_d = (
        F.sin(F.radians(F.lit(center_lat))) * F.sin(F.radians(lat))
        + F.cos(F.radians(F.lit(center_lat))) * F.cos(F.radians(lat))
        * F.cos(F.radians(F.lit(center_lon) - lon))
    )
    d = F.degrees(F.acos(cos_d)) * F.lit(60.0 * 1.1515 * 1609.344)
    return F.when((lat == center_lat) & (lon == center_lon), F.lit(0.0)).otherwise(d)


def in_circle_ref(
    df: DataFrame,
    center_lat: float,
    center_lon: float,
    radius_m: float,
    unit_factor: float = 1000.0,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Reference-parity circle search for the geo SERVICE: bounding-box
    prefilter (conservative +10% margin — the law-of-cosines and haversine
    per-degree scales differ <0.01%), the reference's exact meters compare,
    and a `distance` column in the REQUESTED unit rounded at 2 decimals
    (GeoSpatialDefaultLiteralSerializer.serializeDistance:
    Math.round(d*100)/100)."""
    radius_km = radius_m / 1000.0
    dlat = math.degrees(radius_km / EARTH_RADIUS_KM) * 1.1
    dlon = dlat / max(math.cos(math.radians(center_lat)), 1e-9)
    lat, lon = F.col(lat_col), F.col(lon_col)
    # direct range predicates (pushable), lat band CLAMPED to the valid
    # domain (a span-the-earth radius must not explode into an unbounded
    # box), lon window WRAPPED at the antimeridian (ref: GeoSpatialQuery.
    # normalize() splits a wrapped window into two ranges — grid180
    # fixtures: a circle at lon 179 includes points at lon -179)
    boxed = df.filter(
        lat.between(max(center_lat - dlat, -90.0), min(center_lat + dlat, 90.0))
    )
    if dlon < 180.0:
        lon_lo, lon_hi = center_lon - dlon, center_lon + dlon
        if lon_lo < -180.0:
            cond = (lon >= lon_lo + 360.0) | (lon <= lon_hi)
        elif lon_hi > 180.0:
            cond = (lon >= lon_lo) | (lon <= lon_hi - 360.0)
        else:
            cond = lon.between(lon_lo, lon_hi)
        boxed = boxed.filter(cond)
    dm = ref_distance_m(center_lat, center_lon, lat, lon)
    return boxed.filter(dm <= F.lit(radius_m)).withColumn(
        "distance", F.round(dm / F.lit(unit_factor), 2)
    )
