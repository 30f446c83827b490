"""Quadkey / Web-Mercator tile codec as native Spark expressions (no UDF).

Reproduces the tile math the reference delegates to ``mercantile``
(SURVEY §2.7 G1-G5, G16; ref usages:
/root/reference/src/ubdc_airbnb/ubdc_airbnb/models.py:267-327,
/root/reference/src/ubdc_airbnb/ubdc_airbnb/utils/grids.py:9-118).
Formulas are the public "slippy map tilenames" / Bing quadkey scheme:
quadkey digit i (1-based from the most significant zoom level) is
``bit_i(x) + 2*bit_i(y)`` where ``bit_i(v) = (v >> (z-i)) & 1``.

Everything here is built-in higher-order/bitwise functions, so it stays
inside whole-stage codegen and vectorizes across a 100 TB scan — the main
win over the reference's per-row Python ``mercantile`` calls.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _shr(v: Column, bits: Column) -> Column:
    """shiftright with a *column* bit count (the pyspark wrapper only
    accepts a literal int; the SQL function accepts expressions)."""
    return F.call_function("shiftright", v, bits.cast("int"))


def _shl(v: Column, bits: Column) -> Column:
    return F.call_function("shiftleft", v, bits.cast("int"))


def tile_to_quadkey(x: Column | str, y: Column | str, z: Column | str | int) -> Column:
    """G1 encode: ``(tile_x, tile_y, zoom) -> quadkey`` string of length z.

    With a literal zoom the digit expressions are unrolled into one
    ``concat`` (no array allocation, no lambda fold) — the hot path for
    the depth-22 bucketing column over a full listing scan."""
    if isinstance(z, int) and isinstance(x, str) and isinstance(y, str):
        # name-typed fast path: assemble the unrolled digit concat as ONE
        # SQL string (a single JVM parse) — building z digits as Column
        # expressions costs ~6 py4j round-trips each (~0.2 s of pure
        # driver latency at z=10, paid per query regardless of data size)
        terms = ", ".join(
            f"CAST((shiftright(`{x}`, {z - i}) & 1) + (shiftright(`{y}`, {z - i}) & 1) * 2 AS STRING)"
            for i in range(1, z + 1)
        )
        return F.expr(f"concat({terms})")
    x, y = _c(x), _c(y)
    if isinstance(z, int):
        digits = [
            (
                F.shiftright(x, z - i).bitwiseAND(F.lit(1))
                + F.shiftright(y, z - i).bitwiseAND(F.lit(1)) * 2
            ).cast("string")
            for i in range(1, z + 1)
        ]
        return F.concat(*digits)
    z = _c(z)
    digits = F.transform(
        F.sequence(F.lit(1), z),
        lambda i: (
            _shr(x, z - i).bitwiseAND(F.lit(1))
            + _shr(y, z - i).bitwiseAND(F.lit(1)) * 2
        ).cast("string"),
    )
    return F.array_join(digits, "")


def tile_to_quadkey_packed(x: str, y: str, z: int) -> Column:
    """G1 encode, PACKED form: the quadkey as a base-4 integer (digit i
    occupies bits ``2*(z-i)``..``2*(z-i)+1``) instead of a string — the
    100 TB-scan representation: zero string allocation per row, and a
    prefix test compiles to one shift + integer compare (see
    ``joins.packed_prefix_predicate``). ``string(qk_packed)`` in base 4,
    left-padded to z digits, equals ``tile_to_quadkey`` exactly."""
    terms = " + ".join(
        f"(((shiftright(`{x}`, {z - i}) & 1) + (shiftright(`{y}`, {z - i}) & 1) * 2)"
        f" * {4 ** (z - i)}L)"
        for i in range(1, z + 1)
    )
    return F.expr(f"({terms})")


def quadkey_to_tile_x(qk: Column | str) -> Column:
    """G1 decode: x = sum over digits of ``(d & 1) << (z-i)``."""
    qk = _c(qk)
    z = F.length(qk)
    return F.aggregate(
        F.sequence(F.lit(1), z),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + _shl(
            F.substring(qk, i.cast("int"), 1).cast("long").bitwiseAND(F.lit(1)),
            z - i,
        ),
    )


def quadkey_to_tile_y(qk: Column | str) -> Column:
    qk = _c(qk)
    z = F.length(qk)
    return F.aggregate(
        F.sequence(F.lit(1), z),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + _shl(
            _shr(F.substring(qk, i.cast("int"), 1).cast("long"), F.lit(1)).bitwiseAND(F.lit(1)),
            z - i,
        ),
    )


def children(qk: Column | str) -> Column:
    """G5: the four child quadkeys (ref: mercantile.children,
    models.py:269-275) — ``qk || d for d in 0..3``."""
    qk = _c(qk)
    return F.transform(F.array(F.lit("0"), F.lit("1"), F.lit("2"), F.lit("3")), lambda d: F.concat(qk, d))


def parent(qk: Column | str) -> Column:
    qk = _c(qk)
    return F.substring(qk, 1, (F.length(qk) - 1).cast("int"))


def ancestors(qk: Column | str) -> Column:
    """G6/P6: array of all proper prefixes (ref: utils/grids.py:78-85).
    Guarded: ``sequence(1, 0)`` counts down in Spark, so length-1 keys
    must return an empty array explicitly."""
    qk = _c(qk)
    prefixes = F.transform(
        F.sequence(F.lit(1), F.length(qk) - 1), lambda i: F.substring(qk, 1, i.cast("int"))
    )
    return F.when(F.length(qk) > 1, prefixes).otherwise(F.array().cast("array<string>"))


def lonlat_to_tile_x(lon: Column | str, z: Column | str | int) -> Column:
    """Point → tile column (slippy formula): floor((lon+180)/360 * 2^z)."""
    lon = _c(lon)
    z = F.lit(z) if isinstance(z, int) else _c(z)
    n = F.pow(F.lit(2.0), z.cast("double"))
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n).cast("long")
    return F.least(F.greatest(x, F.lit(0).cast("long")), (n - 1).cast("long"))


def lonlat_to_tile_y(lat: Column | str, z: Column | str | int) -> Column:
    """floor((1 - asinh(tan(lat))/pi) / 2 * 2^z); lat clamped to Mercator."""
    lat = _c(lat)
    z = F.lit(z) if isinstance(z, int) else _c(z)
    n = F.pow(F.lit(2.0), z.cast("double"))
    lat_c = F.least(F.greatest(lat, F.lit(-85.051128779806589)), F.lit(85.051128779806589))
    lat_rad = F.radians(lat_c)
    y = F.floor((F.lit(1.0) - F.log(F.tan(lat_rad) + F.lit(1.0) / F.cos(lat_rad)) / F.lit(3.141592653589793)) / F.lit(2.0) * n).cast("long")
    return F.least(F.greatest(y, F.lit(0).cast("long")), (n - 1).cast("long"))


def lonlat_to_quadkey(lon: Column | str, lat: Column | str, z: int) -> Column:
    """Point → quadkey at depth z — the engine's spatial bucketing key
    (drives the J1 spatial join and quadtree partitioning)."""
    return tile_to_quadkey(lonlat_to_tile_x(lon, z), lonlat_to_tile_y(lat, z), z)


def tile_bounds_west(x: Column | str, z: Column | str | int) -> Column:
    """G3: tile → west longitude (mercantile.bounds analog)."""
    x = _c(x)
    z = F.lit(z) if isinstance(z, int) else _c(z)
    n = F.pow(F.lit(2.0), z.cast("double"))
    return x.cast("double") / n * F.lit(360.0) - F.lit(180.0)


def tile_bounds_north(y: Column | str, z: Column | str | int) -> Column:
    """G3: tile → north latitude: atan(sinh(pi*(1-2*y/2^z))) in degrees."""
    y = _c(y)
    z = F.lit(z) if isinstance(z, int) else _c(z)
    n = F.pow(F.lit(2.0), z.cast("double"))
    t = F.lit(3.141592653589793) * (F.lit(1.0) - F.lit(2.0) * y.cast("double") / n)
    return F.degrees(F.atan(F.sinh(t)))


def quadkey_bbox(qk: Column | str) -> Column:
    """G3: quadkey → struct(west, south, east, north) in EPSG:4326
    (ref: bbox_from_quadkey, utils/grids.py:9-19)."""
    qk = _c(qk)
    z = F.length(qk)
    x = quadkey_to_tile_x(qk)
    y = quadkey_to_tile_y(qk)
    return F.struct(
        tile_bounds_west(x, z).alias("west"),
        tile_bounds_north(y + 1, z).alias("south"),
        tile_bounds_west(x + 1, z).alias("east"),
        tile_bounds_north(y, z).alias("north"),
    )
