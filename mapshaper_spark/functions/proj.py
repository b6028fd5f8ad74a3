"""-proj: the projection family the engine ships [SURVEY.md §2.2
-proj — the full PROJ long tail stays out of scope; this module covers
WebMercator, the two conics (Albers equal-area, Lambert conformal),
spherical transverse Mercator with per-row UTM zones, Robinson (r4),
Lambert azimuthal equal-area, sinusoidal, azimuthal equidistant,
Mollweide, Eckert IV, Natural Earth, Equal Earth, stereographic,
orthographic, gnomonic, Cassini, the cylindrical equal-area family,
Miller, Bonne (r5) and Winkel Tripel (r5 continuation — the inverse is
the module's one 2D Newton) — the projections mapshaper users actually
reach for].

Pure column expressions (JVM-side, codegen). tan/log are not
ULP-portable across libm implementations, so projection outputs are
pytest-golden-checked rather than DuckDB-oracle-hashed [SURVEY.md §5.2].
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

R = 6378137.0  # WGS84 spherical radius (WebMercator convention)
MAX_LAT = 85.05112878  # WebMercator latitude clamp


def webmercator_xy(lon, lat):
    """EPSG:4326 → EPSG:3857 as a COLUMN-PAIR builder: takes (lon, lat)
    Columns (or zip_with lambda variables) and returns the (x, y)
    expression pair. :func:`to_webmercator` and the zero-shuffle
    :func:`project_layer_inplace` both build from this, so the two
    paths evaluate the identical IEEE expression tree."""
    lat_c = F.least(F.lit(MAX_LAT), F.greatest(F.lit(-MAX_LAT), lat))
    x = F.lit(R) * F.radians(lon)
    y = F.lit(R) * F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(lat_c) / 2.0))
    return x, y


def webmercator_inv_xy(mx, my):
    """EPSG:3857 → EPSG:4326 inverse as a column-pair builder."""
    lon = F.degrees(mx / F.lit(R))
    lat = F.degrees(
        F.lit(2.0) * F.atan(F.exp(my / F.lit(R))) - F.lit(math.pi / 2.0)
    )
    return lon, lat


def to_webmercator(df: DataFrame, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """EPSG:4326 → EPSG:3857: x = R·λ, y = R·ln(tan(π/4 + φ/2))."""
    x, y = webmercator_xy(F.col(lon), F.col(lat))
    return df.withColumn("mx", x).withColumn("my", y)


def from_webmercator(df: DataFrame, mx: str = "mx", my: str = "my") -> DataFrame:
    """EPSG:3857 → EPSG:4326 inverse."""
    lon, lat = webmercator_inv_xy(F.col(mx), F.col(my))
    return df.withColumn("lon2", lon).withColumn("lat2", lat)


def webmercator_tile(df: DataFrame, z: int, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Slippy-map z/x/y tile ids in the WebMercator scheme (the scheme
    real tile servers use; the oracle-checked engine tiling stays on the
    algebraic equirectangular grid [cells.tile_sql])."""
    n = 1 << z
    lat_c = F.least(F.lit(MAX_LAT), F.greatest(F.lit(-MAX_LAT), F.col(lat)))
    xt = F.floor((F.col(lon) + 180.0) / 360.0 * n)
    lat_r = F.radians(lat_c)
    yt = F.floor(
        (1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / math.pi) / 2.0 * n
    )
    clamp = lambda c: F.least(F.lit(n - 1), F.greatest(F.lit(0), c.cast("long")))  # noqa: E731
    return df.withColumn("wm_tile_x", clamp(xt)).withColumn("wm_tile_y", clamp(yt))


def albers(
    df: DataFrame,
    lat1: float = 29.5,
    lat2: float = 45.5,
    lon0: float = -96.0,
    lat0: float = 23.0,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Spherical Albers equal-area conic (upstream's albersusa default
    parallels). Forward: n = (sin f1 + sin f2)/2, C = cos^2 f1 +
    2 n sin f1, rho = R sqrt(C - 2 n sin f)/n, th = n (lam - lam0);
    x = rho sin th, y = rho0 - rho cos th. Pure codegen column math."""
    x, y = albers_xy(lat1, lat2, lon0, lat0)(F.col(lon), F.col(lat))
    return df.withColumn("ax", x).withColumn("ay", y)


def albers_xy(
    lat1: float = 29.5,
    lat2: float = 45.5,
    lon0: float = -96.0,
    lat0: float = 23.0,
):
    """:func:`albers` as a column-pair builder (zero-shuffle layer
    path; same expression tree)."""
    f1, f2 = math.radians(lat1), math.radians(lat2)
    n = (math.sin(f1) + math.sin(f2)) / 2.0
    c = math.cos(f1) ** 2 + 2.0 * n * math.sin(f1)
    rho0 = R * math.sqrt(c - 2.0 * n * math.sin(math.radians(lat0))) / n

    def fxy(lon_col, lat_col):
        rho = F.lit(R) * F.sqrt(F.lit(c) - F.lit(2.0 * n) * F.sin(F.radians(lat_col))) / F.lit(n)
        th = F.lit(n) * F.radians(lon_col - F.lit(lon0))
        return rho * F.sin(th), F.lit(rho0) - rho * F.cos(th)

    return fxy


def albers_inverse(
    df: DataFrame,
    lat1: float = 29.5,
    lat2: float = 45.5,
    lon0: float = -96.0,
    lat0: float = 23.0,
    ax: str = "ax",
    ay: str = "ay",
) -> DataFrame:
    f1, f2 = math.radians(lat1), math.radians(lat2)
    n = (math.sin(f1) + math.sin(f2)) / 2.0
    c = math.cos(f1) ** 2 + 2.0 * n * math.sin(f1)
    rho0 = R * math.sqrt(c - 2.0 * n * math.sin(math.radians(lat0))) / n
    dy = F.lit(rho0) - F.col(ay)
    rho = F.sqrt(F.col(ax) * F.col(ax) + dy * dy)
    th = F.atan2(F.col(ax), dy)  # n > 0 for northern standard parallels
    lat_out = F.degrees(
        F.asin((F.lit(c) - (rho * F.lit(n) / F.lit(R)) * (rho * F.lit(n) / F.lit(R))) / F.lit(2.0 * n))
    )
    lon_out = F.lit(lon0) + F.degrees(th / F.lit(n))
    return df.withColumn("lon2", lon_out).withColumn("lat2", lat_out)


def lambert_cc(
    df: DataFrame,
    lat1: float = 33.0,
    lat2: float = 45.0,
    lon0: float = -96.0,
    lat0: float = 39.0,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Spherical Lambert conformal conic. n from the two standard
    parallels, rho = R Fc / tan^n(pi/4 + f/2)."""
    x, y = lambert_cc_xy(lat1, lat2, lon0, lat0)(F.col(lon), F.col(lat))
    return df.withColumn("lx", x).withColumn("ly", y)


def lambert_cc_xy(
    lat1: float = 33.0,
    lat2: float = 45.0,
    lon0: float = -96.0,
    lat0: float = 39.0,
):
    """:func:`lambert_cc` as a column-pair builder."""
    f1, f2 = math.radians(lat1), math.radians(lat2)
    n = math.log(math.cos(f1) / math.cos(f2)) / math.log(
        math.tan(math.pi / 4.0 + f2 / 2.0) / math.tan(math.pi / 4.0 + f1 / 2.0)
    )
    fc = math.cos(f1) * math.tan(math.pi / 4.0 + f1 / 2.0) ** n / n
    rho0 = R * fc / math.tan(math.pi / 4.0 + math.radians(lat0) / 2.0) ** n

    def fxy(lon_col, lat_col):
        rho = F.lit(R * fc) / F.pow(
            F.tan(F.lit(math.pi / 4.0) + F.radians(lat_col) / 2.0), F.lit(n)
        )
        th = F.lit(n) * F.radians(lon_col - F.lit(lon0))
        return rho * F.sin(th), F.lit(rho0) - rho * F.cos(th)

    return fxy


def lambert_cc_inverse(
    df: DataFrame,
    lat1: float = 33.0,
    lat2: float = 45.0,
    lon0: float = -96.0,
    lat0: float = 39.0,
    lx: str = "lx",
    ly: str = "ly",
) -> DataFrame:
    f1, f2 = math.radians(lat1), math.radians(lat2)
    n = math.log(math.cos(f1) / math.cos(f2)) / math.log(
        math.tan(math.pi / 4.0 + f2 / 2.0) / math.tan(math.pi / 4.0 + f1 / 2.0)
    )
    fc = math.cos(f1) * math.tan(math.pi / 4.0 + f1 / 2.0) ** n / n
    rho0 = R * fc / math.tan(math.pi / 4.0 + math.radians(lat0) / 2.0) ** n
    dy = F.lit(rho0) - F.col(ly)
    rho = F.sqrt(F.col(lx) * F.col(lx) + dy * dy)  # n > 0
    th = F.atan2(F.col(lx), dy)
    lat_out = F.degrees(
        F.lit(2.0) * F.atan(F.pow(F.lit(R * fc) / rho, F.lit(1.0 / n)))
        - F.lit(math.pi / 2.0)
    )
    lon_out = F.lit(lon0) + F.degrees(th / F.lit(n))
    return df.withColumn("lon2", lon_out).withColumn("lat2", lat_out)


def transverse_mercator(
    df: DataFrame,
    lon0: float = -93.0,
    k0: float = 1.0,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Spherical transverse Mercator (Snyder 1987 eq. 8-5/8-6; the
    public spherical form). B = cos f sin(lam-lam0); x = k0 R atanh(B);
    y = k0 R atan2(tan f, cos(lam-lam0)). Conformal — the property the
    tests pin. Pure codegen column math."""
    x, y = transverse_mercator_xy(lon0, k0)(F.col(lon), F.col(lat))
    return df.withColumn("tx", x).withColumn("ty", y)


def transverse_mercator_xy(lon0: float = -93.0, k0: float = 1.0):
    """:func:`transverse_mercator` as a column-pair builder (fixed
    central meridian; the per-row-zone :func:`utm` stays on the point
    path — its zone/hemisphere outputs are metadata beyond (x, y))."""

    def fxy(lon_col, lat_col):
        dl = F.radians(lon_col - F.lit(lon0))
        f = F.radians(lat_col)
        b = F.cos(f) * F.sin(dl)
        x = F.lit(k0 * R * 0.5) * F.log((F.lit(1.0) + b) / (F.lit(1.0) - b))
        y = F.lit(k0 * R) * F.atan2(F.tan(f), F.cos(dl))
        return x, y

    return fxy


def transverse_mercator_inverse(
    df: DataFrame,
    lon0: float = -93.0,
    k0: float = 1.0,
    tx: str = "tx",
    ty: str = "ty",
) -> DataFrame:
    """Inverse spherical TM: D = y/(k0 R); f = asin(sin D / cosh(x/(k0
    R))); lam = lam0 + atan2(sinh(x/(k0 R)), cos D)."""
    xs = F.col(tx) / F.lit(k0 * R)
    d = F.col(ty) / F.lit(k0 * R)
    lat_out = F.degrees(F.asin(F.sin(d) / F.cosh(xs)))
    lon_out = F.lit(lon0) + F.degrees(F.atan2(F.sinh(xs), F.cos(d)))
    return df.withColumn("lon2", lon_out).withColumn("lat2", lat_out)


UTM_K0 = 0.9996
UTM_FALSE_E = 500000.0
UTM_FALSE_N_S = 10000000.0


def utm(df: DataFrame, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """UTM with the zone chosen PER ROW from the longitude — entirely
    column math, so a planet-wide point table projects in one codegen
    stage with no per-zone driver loop: zone = floor((lon+180)/6)+1
    (clamped), lam0 = 6 zone - 183, k0 = 0.9996, false easting 500 km,
    false northing 10000 km on the southern hemisphere. Output columns:
    utm_zone, utm_north (hemisphere), utm_e, utm_n."""
    zone = F.least(
        F.lit(60),
        F.greatest(
            F.lit(1), (F.floor((F.col(lon) + 180.0) / 6.0) + 1).cast("int")
        ),
    )
    lon0 = (zone.cast("double") * 6.0) - 183.0
    dl = F.radians(F.col(lon) - lon0)
    f = F.radians(F.col(lat))
    b = F.cos(f) * F.sin(dl)
    x = F.lit(UTM_K0 * R * 0.5) * F.log((F.lit(1.0) + b) / (F.lit(1.0) - b))
    y = F.lit(UTM_K0 * R) * F.atan2(F.tan(f), F.cos(dl))
    north = F.col(lat) >= 0.0
    return (
        df.withColumn("utm_zone", zone)
        .withColumn("utm_north", north)
        .withColumn("utm_e", x + F.lit(UTM_FALSE_E))
        .withColumn(
            "utm_n", F.when(north, y).otherwise(y + F.lit(UTM_FALSE_N_S))
        )
    )


def utm_inverse(
    df: DataFrame,
    zone: str = "utm_zone",
    north: str = "utm_north",
    e: str = "utm_e",
    n: str = "utm_n",
) -> DataFrame:
    """Inverse UTM from (zone, hemisphere, easting, northing) columns."""
    lon0 = F.col(zone).cast("double") * 6.0 - 183.0
    xs = (F.col(e) - F.lit(UTM_FALSE_E)) / F.lit(UTM_K0 * R)
    y = F.when(F.col(north), F.col(n)).otherwise(F.col(n) - F.lit(UTM_FALSE_N_S))
    d = y / F.lit(UTM_K0 * R)
    lat_out = F.degrees(F.asin(F.sin(d) / F.cosh(xs)))
    lon_out = lon0 + F.degrees(F.atan2(F.sinh(xs), F.cos(d)))
    return df.withColumn("lon2", lon_out).withColumn("lat2", lat_out)


# Robinson's published 5-degree table (Robinson 1974; Snyder & Voxland
# 1989 p.82 — public domain values): PLEN scales x, PDFE scales y.
ROBINSON_X = (
    1.0000, 0.9986, 0.9954, 0.9900, 0.9822, 0.9730, 0.9600, 0.9427,
    0.9216, 0.8962, 0.8679, 0.8350, 0.7986, 0.7597, 0.7186, 0.6732,
    0.6213, 0.5722, 0.5322,
)
ROBINSON_Y = (
    0.0000, 0.0620, 0.1240, 0.1860, 0.2480, 0.3100, 0.3720, 0.4340,
    0.4958, 0.5571, 0.6176, 0.6769, 0.7346, 0.7903, 0.8435, 0.8936,
    0.9394, 0.9761, 1.0000,
)
_ROB_XM = 0.8487
_ROB_YM = 1.3523


def robinson(df: DataFrame, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Robinson pseudocylindrical from the published 5-degree table,
    LINEAR interpolation between nodes (documented variant — upstream
    mproj uses a spline through the same table; node values agree
    exactly, between-node values differ <0.1%). x = 0.8487 R X(|f|) lam,
    y = 1.3523 R Y(|f|) sign(f). Table lookup is element_at over array
    literals — still one codegen stage, no UDF."""
    x, y = robinson_xy()(F.col(lon), F.col(lat))
    return df.withColumn("rx", x).withColumn("ry", y)


def robinson_xy():
    """:func:`robinson` as a column-pair builder."""

    def fxy(lon_col, lat_col):
        xarr = F.array(*[F.lit(v) for v in ROBINSON_X])
        yarr = F.array(*[F.lit(v) for v in ROBINSON_Y])
        alat = F.least(F.lit(90.0), F.abs(lat_col))
        idx = F.least(F.lit(17), F.floor(alat / 5.0).cast("int"))
        frac = alat / 5.0 - idx.cast("double")
        lo_x = F.element_at(xarr, idx + 1)
        hi_x = F.element_at(xarr, idx + 2)
        lo_y = F.element_at(yarr, idx + 1)
        hi_y = F.element_at(yarr, idx + 2)
        px = lo_x + frac * (hi_x - lo_x)
        py = lo_y + frac * (hi_y - lo_y)
        x = F.lit(_ROB_XM * R) * px * F.radians(lon_col)
        y = F.lit(_ROB_YM * R) * py * F.signum(lat_col)
        return x, y

    return fxy


def robinson_inverse(df: DataFrame, rx: str = "rx", ry: str = "ry") -> DataFrame:
    """Inverse of the linear-interpolated Robinson: the piecewise-linear
    Y is strictly increasing, so the segment inverse is exact — an
    18-arm CASE finds the segment (generated column expression, still
    JVM-side), then lam = x / (0.8487 R X(f))."""
    v = F.abs(F.col(ry)) / F.lit(_ROB_YM * R)
    # build the CASE from the top segment down so the first WHEN that
    # matches (v < Y[i+1]) is the correct segment
    lat_a = F.lit(90.0)
    for i in range(17, -1, -1):
        y0, y1 = ROBINSON_Y[i], ROBINSON_Y[i + 1]
        seg_lat = F.lit(5.0) * (F.lit(float(i)) + (v - F.lit(y0)) / F.lit(y1 - y0))
        lat_a = F.when(v < F.lit(y1), seg_lat).otherwise(lat_a)
    xarr = F.array(*[F.lit(v2) for v2 in ROBINSON_X])
    idx = F.least(F.lit(17), F.floor(lat_a / 5.0).cast("int"))
    frac = lat_a / 5.0 - idx.cast("double")
    px = F.element_at(xarr, idx + 1) + frac * (
        F.element_at(xarr, idx + 2) - F.element_at(xarr, idx + 1)
    )
    lat_out = lat_a * F.signum(F.col(ry))
    lon_out = F.degrees(F.col(rx) / (F.lit(_ROB_XM * R) * px))
    return df.withColumn("lon2", lon_out).withColumn("lat2", lat_out)


def lambert_azimuthal(
    df: DataFrame,
    lon0: float = 0.0,
    lat0: float = 52.0,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Spherical Lambert azimuthal equal-area (Snyder 1987 eq.
    24-2/24-3; lat0=52/lon0=10-style continental defaults are the
    common public LAEA setups — the default here centers on lat0=52).
    kp = sqrt(2 / (1 + sin f0 sin f + cos f0 cos f cos dl));
    x = R kp cos f sin dl; y = R kp (cos f0 sin f - sin f0 cos f cos
    dl). Equal-area — the property the tests pin. Pure codegen column
    math [SURVEY §7.5's -proj subset, grown per VERDICT r4 'missing'
    #3]."""
    x, y = lambert_azimuthal_xy(lon0, lat0)(F.col(lon), F.col(lat))
    return df.withColumn("zx", x).withColumn("zy", y)


def lambert_azimuthal_xy(lon0: float = 0.0, lat0: float = 52.0):
    """:func:`lambert_azimuthal` as a column-pair builder."""
    f0 = math.radians(lat0)

    def fxy(lon_col, lat_col):
        dl = F.radians(lon_col - F.lit(lon0))
        f = F.radians(lat_col)
        cosc = (
            F.lit(math.sin(f0)) * F.sin(f)
            + F.lit(math.cos(f0)) * F.cos(f) * F.cos(dl)
        )
        kp = F.sqrt(F.lit(2.0) / (F.lit(1.0) + cosc))
        x = F.lit(R) * kp * F.cos(f) * F.sin(dl)
        y = F.lit(R) * kp * (
            F.lit(math.cos(f0)) * F.sin(f)
            - F.lit(math.sin(f0)) * F.cos(f) * F.cos(dl)
        )
        return x, y

    return fxy


def lambert_azimuthal_inverse(
    df: DataFrame,
    lon0: float = 0.0,
    lat0: float = 52.0,
    zx: str = "zx",
    zy: str = "zy",
) -> DataFrame:
    """Inverse spherical LAEA (Snyder eq. 20-14..18 with 24-16):
    rho = hypot(x, y); c = 2 asin(rho / (2R)); the rho=0 center maps
    back exactly (the CASE keeps the expression codegen-side)."""
    f0 = math.radians(lat0)
    rho = F.sqrt(F.col(zx) * F.col(zx) + F.col(zy) * F.col(zy))
    c = F.lit(2.0) * F.asin(rho / F.lit(2.0 * R))
    lat_gen = F.degrees(
        F.asin(
            F.cos(c) * F.lit(math.sin(f0))
            + F.col(zy) * F.sin(c) * F.lit(math.cos(f0)) / rho
        )
    )
    lon_gen = F.lit(lon0) + F.degrees(
        F.atan2(
            F.col(zx) * F.sin(c),
            rho * F.lit(math.cos(f0)) * F.cos(c)
            - F.col(zy) * F.lit(math.sin(f0)) * F.sin(c),
        )
    )
    at_center = rho == F.lit(0.0)
    return df.withColumn(
        "lon2", F.when(at_center, F.lit(lon0)).otherwise(lon_gen)
    ).withColumn("lat2", F.when(at_center, F.lit(lat0)).otherwise(lat_gen))


def sinusoidal_xy(lon0: float = 0.0):
    """:func:`sinusoidal` as a column-pair builder (zero-shuffle
    ring-array path)."""

    def fxy(lon_col, lat_col):
        f = F.radians(lat_col)
        x = F.lit(R) * F.radians(lon_col - F.lit(lon0)) * F.cos(f)
        return x, F.lit(R) * f

    return fxy


def sinusoidal(
    df: DataFrame, lon0: float = 0.0, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Sinusoidal (Sanson-Flamsteed) pseudocylindrical — equal-area,
    equally-spaced parallels: x = R dl cos f, y = R f. The classic
    public form (Snyder 1987 eq. 30-1); one codegen stage."""
    x, y = sinusoidal_xy(lon0)(F.col(lon), F.col(lat))
    return df.withColumn("sx", x).withColumn("sy", y)


def sinusoidal_inverse(
    df: DataFrame, lon0: float = 0.0, sx: str = "sx", sy: str = "sy"
) -> DataFrame:
    """Inverse sinusoidal: f = y/R; lam = lam0 + x/(R cos f). Poles
    (cos f = 0) map back to lon0 — every meridian meets there."""
    f = F.col(sy) / F.lit(R)
    cosf = F.cos(f)
    lon_gen = F.lit(lon0) + F.degrees(F.col(sx) / (F.lit(R) * cosf))
    return df.withColumn(
        "lon2",
        F.when(F.abs(cosf) < F.lit(1e-15), F.lit(lon0)).otherwise(lon_gen),
    ).withColumn("lat2", F.degrees(f))


def azimuthal_equidistant(
    df: DataFrame,
    lon0: float = 0.0,
    lat0: float = 52.0,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Spherical azimuthal equidistant (Snyder 1987 eq. 25-1..25-4):
    every great-circle distance FROM the center is preserved exactly —
    hypot(ax, ay) = R·c where c is the angular distance, the property
    the tests pin. k' = c / sin c (1 at the center); x = R k' cos f
    sin dl; y = R k' (cos f0 sin f − sin f0 cos f cos dl). The exact
    antipode (c = π, sin c = 0) is the projection's own singularity —
    it maps to the bounding circle in no unique direction. Pure codegen
    column math [SURVEY §7.5's -proj subset, grown per VERDICT r4
    'missing' #3]."""
    x, y = azimuthal_equidistant_xy(lon0, lat0)(F.col(lon), F.col(lat))
    return df.withColumn("ax", x).withColumn("ay", y)


def azimuthal_equidistant_xy(lon0: float = 0.0, lat0: float = 52.0):
    """:func:`azimuthal_equidistant` as a column-pair builder."""
    f0 = math.radians(lat0)

    def fxy(lon_col, lat_col):
        dl = F.radians(lon_col - F.lit(lon0))
        f = F.radians(lat_col)
        cosc = (
            F.lit(math.sin(f0)) * F.sin(f)
            + F.lit(math.cos(f0)) * F.cos(f) * F.cos(dl)
        )
        # rounding can push |cos c| a few ulp past 1 → NaN from acos
        c = F.acos(F.least(F.lit(1.0), F.greatest(F.lit(-1.0), cosc)))
        kp = F.when(c == F.lit(0.0), F.lit(1.0)).otherwise(c / F.sin(c))
        x = F.lit(R) * kp * F.cos(f) * F.sin(dl)
        y = F.lit(R) * kp * (
            F.lit(math.cos(f0)) * F.sin(f)
            - F.lit(math.sin(f0)) * F.cos(f) * F.cos(dl)
        )
        return x, y

    return fxy


def azimuthal_equidistant_inverse(
    df: DataFrame,
    lon0: float = 0.0,
    lat0: float = 52.0,
    ax: str = "ax",
    ay: str = "ay",
) -> DataFrame:
    """Inverse spherical azimuthal equidistant (Snyder eq. 20-14..18
    with 25-15: c = rho / R). The rho=0 center maps back exactly."""
    f0 = math.radians(lat0)
    rho = F.sqrt(F.col(ax) * F.col(ax) + F.col(ay) * F.col(ay))
    c = rho / F.lit(R)
    lat_gen = F.degrees(
        F.asin(
            F.cos(c) * F.lit(math.sin(f0))
            + F.col(ay) * F.sin(c) * F.lit(math.cos(f0)) / rho
        )
    )
    lon_gen = F.lit(lon0) + F.degrees(
        F.atan2(
            F.col(ax) * F.sin(c),
            rho * F.lit(math.cos(f0)) * F.cos(c)
            - F.col(ay) * F.lit(math.sin(f0)) * F.sin(c),
        )
    )
    at_center = rho == F.lit(0.0)
    return df.withColumn(
        "lon2", F.when(at_center, F.lit(lon0)).otherwise(lon_gen)
    ).withColumn("lat2", F.when(at_center, F.lit(lat0)).otherwise(lat_gen))


_MOLL_ITERS = 30  # Newton on 2θ + sin 2θ = π sin φ: quadratic away
# from the poles, but the root flattens toward θ = ±π/2 (g' → 0, a
# near-double root) where convergence degrades to linear — measured
# 30 fixed steps reach ≤1e-9° everywhere incl. |φ| = 89.9999°, while
# 10 leave 4e-2° at 89.99° (exact-pole rows take the closed form)


def mollweide(
    df: DataFrame, lon0: float = 0.0, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Mollweide (homolographic) pseudocylindrical — equal-area over
    the 2:1 ellipse (Snyder 1987 eq. 31-1..31-3): solve
    2θ + sin 2θ = π sin φ, then x = R (2√2/π) dl cos θ, y = R √2 sin θ.
    The Newton solve stays codegen-side as a FIXED-count iteration,
    each step rebound through ``withColumn`` so the auxiliary θ column
    is an attribute reference (referenced three times per step —
    CollapseProject keeps non-cheap multi-referenced projections as
    separate stages, so the expression tree stays linear in the
    iteration count, not 3^n). Pole rows (the Newton denominator
    2 + 2cos 2θ → 0 there) take the exact closed form θ = ±π/2."""
    f = F.radians(F.col(lat))
    out = df.withColumn("_moll_tgt", F.lit(math.pi) * F.sin(f))
    out = out.withColumn("_moll_th", f)
    for _ in range(_MOLL_ITERS):
        th = F.col("_moll_th")
        den = F.lit(2.0) + F.lit(2.0) * F.cos(F.lit(2.0) * th)
        # CaseWhen is lazy per row, so exact-pole rows (den == 0, ANSI
        # divide-by-zero otherwise) never execute the division — they
        # take the closed form below anyway
        out = out.withColumn(
            "_moll_th",
            F.when(
                den > F.lit(0.0),
                th
                - (
                    F.lit(2.0) * th
                    + F.sin(F.lit(2.0) * th)
                    - F.col("_moll_tgt")
                )
                / den,
            ).otherwise(th),
        )
    at_pole = F.abs(F.col(lat)) >= F.lit(90.0 - 1e-9)
    theta = F.when(
        at_pole, F.lit(math.pi / 2.0) * F.signum(F.col(lat))
    ).otherwise(F.col("_moll_th"))
    dl = F.radians(F.col(lon) - F.lit(lon0))
    x = F.lit(R * 2.0 * math.sqrt(2.0) / math.pi) * dl * F.cos(theta)
    y = F.lit(R * math.sqrt(2.0)) * F.sin(theta)
    return (
        out.withColumn("wx", x)
        .withColumn("wy", y)
        .drop("_moll_tgt", "_moll_th")
    )


def mollweide_inverse(
    df: DataFrame, lon0: float = 0.0, wx: str = "wx", wy: str = "wy"
) -> DataFrame:
    """Inverse Mollweide (Snyder eq. 31-6..31-8) — closed form, no
    iteration: θ = asin(y / (R√2)); φ = asin((2θ + sin 2θ)/π);
    λ = λ0 + π x / (2√2 R cos θ). Poles (cos θ = 0, where every
    meridian meets) map back to lon0."""
    s = F.least(
        F.lit(1.0),
        F.greatest(F.lit(-1.0), F.col(wy) / F.lit(R * math.sqrt(2.0))),
    )
    theta = F.asin(s)
    lat_out = F.degrees(
        F.asin(
            (F.lit(2.0) * theta + F.sin(F.lit(2.0) * theta))
            / F.lit(math.pi)
        )
    )
    cost = F.cos(theta)
    lon_gen = F.lit(lon0) + F.degrees(
        F.lit(math.pi)
        * F.col(wx)
        / (F.lit(2.0 * math.sqrt(2.0) * R) * cost)
    )
    return df.withColumn(
        "lon2",
        F.when(F.abs(cost) < F.lit(1e-12), F.lit(lon0)).otherwise(lon_gen),
    ).withColumn("lat2", lat_out)


_ECK4_ITERS = 30  # Newton on t + sin t cos t + 2 sin t = (2+pi/2) sin f:
# g' = 2 cos t (1 + cos t) has a SIMPLE zero at the pole (unlike
# Mollweide's double), so 30 fixed steps reach machine precision
# everywhere incl. 89.9999 deg (measured; exact-pole rows take the
# closed form t = +-pi/2)
_ECK4_C = 2.0 + math.pi / 2.0
_ECK4_XM = 2.0 / math.sqrt(4.0 * math.pi + math.pi * math.pi)
_ECK4_YM = 2.0 * math.sqrt(math.pi / (4.0 + math.pi))


def eckert4(
    df: DataFrame, lon0: float = 0.0, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Eckert IV pseudocylindrical — equal-area, elliptical meridians
    (Snyder 1987 eq. 32-1..32-4): solve t + sin t cos t + 2 sin t =
    (2 + pi/2) sin f, then x = (2/sqrt(4pi+pi^2)) R dl (1 + cos t),
    y = 2 sqrt(pi/(4+pi)) R sin t. The Newton solve is a FIXED-count
    codegen-side iteration rebound through ``withColumn`` (the Mollweide
    pattern: the auxiliary column is an attribute reference, so the
    expression tree stays linear in the step count)."""
    f = F.radians(F.col(lat))
    out = df.withColumn("_ek_tgt", F.lit(_ECK4_C) * F.sin(f))
    out = out.withColumn("_ek_t", f / F.lit(2.0))
    for _ in range(_ECK4_ITERS):
        t = F.col("_ek_t")
        den = F.lit(2.0) * F.cos(t) * (F.lit(1.0) + F.cos(t))
        out = out.withColumn(
            "_ek_t",
            F.when(
                den > F.lit(0.0),
                t
                - (t + F.sin(t) * F.cos(t) + F.lit(2.0) * F.sin(t) - F.col("_ek_tgt"))
                / den,
            ).otherwise(t),
        )
    at_pole = F.abs(F.col(lat)) >= F.lit(90.0 - 1e-9)
    t = F.when(
        at_pole, F.lit(math.pi / 2.0) * F.signum(F.col(lat))
    ).otherwise(F.col("_ek_t"))
    dl = F.radians(F.col(lon) - F.lit(lon0))
    x = F.lit(_ECK4_XM * R) * dl * (F.lit(1.0) + F.cos(t))
    y = F.lit(_ECK4_YM * R) * F.sin(t)
    return out.withColumn("ekx", x).withColumn("eky", y).drop("_ek_tgt", "_ek_t")


def eckert4_inverse(
    df: DataFrame, lon0: float = 0.0, ekx: str = "ekx", eky: str = "eky"
) -> DataFrame:
    """Inverse Eckert IV (Snyder eq. 32-5..32-7) — closed form, no
    iteration: t = asin(y / (2 sqrt(pi/(4+pi)) R)); f = asin((t +
    sin t cos t + 2 sin t)/(2 + pi/2)); lam = lam0 + sqrt(4pi+pi^2) x /
    (2 R (1 + cos t)). Poles (cos t = -1 never happens; at t = +-pi/2
    the meridians still separate — x carries (1 + cos t) = 1)."""
    s = F.least(
        F.lit(1.0), F.greatest(F.lit(-1.0), F.col(eky) / F.lit(_ECK4_YM * R))
    )
    t = F.asin(s)
    lat_out = F.degrees(
        F.asin(
            (t + F.sin(t) * F.cos(t) + F.lit(2.0) * F.sin(t)) / F.lit(_ECK4_C)
        )
    )
    lon_out = F.lit(lon0) + F.degrees(
        F.col(ekx) / (F.lit(_ECK4_XM * R) * (F.lit(1.0) + F.cos(t)))
    )
    return df.withColumn("lon2", lon_out).withColumn("lat2", lat_out)


# Natural Earth (Savric, Jenny, Patterson et al. 2011 — the published
# polynomial; the same coefficients d3-geo's naturalEarth1 ships):
# x = R lam (A0 + A1 f^2 + A2 f^4 + A3 f^10 + A4 f^12)
# y = R f  (B0 + B1 f^2 + B2 f^6 + B3 f^8 + B4 f^10)
_NE_A = (0.8707, -0.131979, -0.013791, 0.003971, -0.001529)
_NE_B = (1.007226, 0.015085, -0.044475, 0.028874, -0.005916)
_NE_ITERS = 12  # Newton on the y polynomial: strictly increasing with
# dy/df >= 0.12 everywhere on [-pi/2, pi/2] (minimum at the pole), so
# 12 fixed steps from f0 = y reach <1e-13 deg at every latitude
# (measured incl. 89 and 90 deg)


def _ne_len(f):  # A-polynomial: x / (R lam)
    f2 = f * f
    f4 = f2 * f2
    return (
        F.lit(_NE_A[0])
        + F.lit(_NE_A[1]) * f2
        + f4 * (F.lit(_NE_A[2]) + F.lit(_NE_A[3]) * f4 * f2 + F.lit(_NE_A[4]) * f4 * f4)
    )


def _ne_y(f):  # B-polynomial times f: y / R
    f2 = f * f
    f4 = f2 * f2
    return f * (
        F.lit(_NE_B[0])
        + f2
        * (
            F.lit(_NE_B[1])
            + f4 * (F.lit(_NE_B[2]) + F.lit(_NE_B[3]) * f2 + F.lit(_NE_B[4]) * f4)
        )
    )


def _ne_dy(f):  # d(y/R)/df
    f2 = f * f
    f4 = f2 * f2
    f6 = f4 * f2
    return (
        F.lit(_NE_B[0])
        + F.lit(3.0 * _NE_B[1]) * f2
        + F.lit(7.0 * _NE_B[2]) * f6
        + F.lit(9.0 * _NE_B[3]) * f4 * f4
        + F.lit(11.0 * _NE_B[4]) * f6 * f4
    )


def natural_earth(
    df: DataFrame, lon0: float = 0.0, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Natural Earth pseudocylindrical (the published 2011 polynomial —
    the compromise projection designed for world maps; upstream reaches
    it as +proj=natearth). Pure codegen column math, no iteration in
    the forward direction."""
    x, y = natural_earth_xy(lon0)(F.col(lon), F.col(lat))
    return df.withColumn("nex", x).withColumn("ney", y)


def natural_earth_xy(lon0: float = 0.0):
    """:func:`natural_earth` as a column-pair builder."""

    def fxy(lon_col, lat_col):
        f = F.radians(lat_col)
        x = F.lit(R) * F.radians(lon_col - F.lit(lon0)) * _ne_len(f)
        return x, F.lit(R) * _ne_y(f)

    return fxy


def natural_earth_inverse(
    df: DataFrame, lon0: float = 0.0, nex: str = "nex", ney: str = "ney"
) -> DataFrame:
    """Inverse Natural Earth: Newton on the strictly-increasing y
    polynomial (fixed 12 codegen-side steps, f0 = y/R), then
    lam = lam0 + x / (R A(f)) in closed form."""
    yn = F.col(ney) / F.lit(R)
    out = df.withColumn("_ne_f", yn)
    for _ in range(_NE_ITERS):
        f = F.col("_ne_f")
        out = out.withColumn("_ne_f", f - (_ne_y(f) - yn) / _ne_dy(f))
    f = F.col("_ne_f")
    lon_out = F.lit(lon0) + F.degrees(F.col(nex) / (F.lit(R) * _ne_len(f)))
    return (
        out.withColumn("lon2", lon_out)
        .withColumn("lat2", F.degrees(f))
        .drop("_ne_f")
    )


# Equal Earth (Savric, Patterson & Jenny 2018 — the published
# polynomial over the auxiliary latitude sin t = (sqrt(3)/2) sin f):
# y = R t (A1 + A2 t^2 + t^6 (A3 + A4 t^2));
# x = R lam cos t / (M dY/dt)
_EE_A = (1.340264, -0.081106, 0.000893, 0.003796)
_EE_M = math.sqrt(3.0) / 2.0
_EE_ITERS = 12  # dY/dt = A1 + 3 A2 t^2 + t^6(7 A3 + 9 A4 t^2) >= 1.08
# on |t| <= pi/3 (t is bounded by asin(M)), so Newton from t0 = y
# reaches <1e-12 deg in 12 fixed steps everywhere (measured)


def _ee_y(t):
    t2 = t * t
    t6 = t2 * t2 * t2
    return t * (
        F.lit(_EE_A[0])
        + F.lit(_EE_A[1]) * t2
        + t6 * (F.lit(_EE_A[2]) + F.lit(_EE_A[3]) * t2)
    )


def _ee_dy(t):
    t2 = t * t
    t6 = t2 * t2 * t2
    return (
        F.lit(_EE_A[0])
        + F.lit(3.0 * _EE_A[1]) * t2
        + t6 * (F.lit(7.0 * _EE_A[2]) + F.lit(9.0 * _EE_A[3]) * t2)
    )


def equal_earth(
    df: DataFrame, lon0: float = 0.0, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Equal Earth pseudocylindrical — EQUAL-AREA by construction (the
    2018 Robinson-look replacement; upstream reaches it as
    +proj=eqearth): t = asin(M sin f) with M = sqrt(3)/2, then the
    published polynomial. Forward is closed-form codegen (the asin is
    exact); equal-area because x carries 1/(M dY/dt) — the Jacobian
    det is R^2 cos f exactly."""
    x, y = equal_earth_xy(lon0)(F.col(lon), F.col(lat))
    return df.withColumn("eqx", x).withColumn("eqy", y)


def equal_earth_xy(lon0: float = 0.0):
    """:func:`equal_earth` as a column-pair builder."""

    def fxy(lon_col, lat_col):
        f = F.radians(lat_col)
        t = F.asin(F.lit(_EE_M) * F.sin(f))
        dl = F.radians(lon_col - F.lit(lon0))
        x = F.lit(R) * dl * F.cos(t) / (F.lit(_EE_M) * _ee_dy(t))
        return x, F.lit(R) * _ee_y(t)

    return fxy


def equal_earth_inverse(
    df: DataFrame, lon0: float = 0.0, eqx: str = "eqx", eqy: str = "eqy"
) -> DataFrame:
    """Inverse Equal Earth: Newton for t on the strictly-increasing y
    polynomial (fixed 12 codegen-side steps), then f = asin(sin t / M)
    and lam = lam0 + M x dY/dt / (R cos t) in closed form. Poles
    (cos t = 1/2 at t = pi/3 — never zero) stay regular."""
    yn = F.col(eqy) / F.lit(R)
    out = df.withColumn("_ee_t", yn)
    for _ in range(_EE_ITERS):
        t = F.col("_ee_t")
        out = out.withColumn("_ee_t", t - (_ee_y(t) - yn) / _ee_dy(t))
    t = F.col("_ee_t")
    s = F.least(F.lit(1.0), F.greatest(F.lit(-1.0), F.sin(t) / F.lit(_EE_M)))
    lat_out = F.degrees(F.asin(s))
    lon_out = F.lit(lon0) + F.degrees(
        F.lit(_EE_M) * F.col(eqx) * _ee_dy(t) / (F.lit(R) * F.cos(t))
    )
    return (
        out.withColumn("lon2", lon_out)
        .withColumn("lat2", lat_out)
        .drop("_ee_t")
    )


def stereographic(
    df: DataFrame,
    lon0: float = 0.0,
    lat0: float = 52.0,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Spherical oblique stereographic (Snyder 1987 eq. 21-2..21-4) —
    CONFORMAL azimuthal, the property the tests pin: k = 2R / (1 +
    sin f0 sin f + cos f0 cos f cos dl); x = k cos f sin dl; y =
    k (cos f0 sin f - sin f0 cos f cos dl). The antipode (k -> inf) is
    the projection's own singularity. Pure codegen column math."""
    x, y = stereographic_xy(lon0, lat0)(F.col(lon), F.col(lat))
    return df.withColumn("stx", x).withColumn("sty", y)


def stereographic_xy(lon0: float = 0.0, lat0: float = 52.0):
    """:func:`stereographic` as a column-pair builder."""
    f0 = math.radians(lat0)

    def fxy(lon_col, lat_col):
        dl = F.radians(lon_col - F.lit(lon0))
        f = F.radians(lat_col)
        cosc = (
            F.lit(math.sin(f0)) * F.sin(f)
            + F.lit(math.cos(f0)) * F.cos(f) * F.cos(dl)
        )
        k = F.lit(2.0 * R) / (F.lit(1.0) + cosc)
        x = k * F.cos(f) * F.sin(dl)
        y = k * (
            F.lit(math.cos(f0)) * F.sin(f)
            - F.lit(math.sin(f0)) * F.cos(f) * F.cos(dl)
        )
        return x, y

    return fxy


def stereographic_inverse(
    df: DataFrame,
    lon0: float = 0.0,
    lat0: float = 52.0,
    stx: str = "stx",
    sty: str = "sty",
) -> DataFrame:
    """Inverse spherical stereographic (Snyder eq. 20-14..18 with
    21-15: c = 2 atan(rho / (2R))). The rho=0 center maps back
    exactly."""
    f0 = math.radians(lat0)
    rho = F.sqrt(F.col(stx) * F.col(stx) + F.col(sty) * F.col(sty))
    c = F.lit(2.0) * F.atan(rho / F.lit(2.0 * R))
    lat_gen = F.degrees(
        F.asin(
            F.cos(c) * F.lit(math.sin(f0))
            + F.col(sty) * F.sin(c) * F.lit(math.cos(f0)) / rho
        )
    )
    lon_gen = F.lit(lon0) + F.degrees(
        F.atan2(
            F.col(stx) * F.sin(c),
            rho * F.lit(math.cos(f0)) * F.cos(c)
            - F.col(sty) * F.lit(math.sin(f0)) * F.sin(c),
        )
    )
    at_center = rho == F.lit(0.0)
    return df.withColumn(
        "lon2", F.when(at_center, F.lit(lon0)).otherwise(lon_gen)
    ).withColumn("lat2", F.when(at_center, F.lit(lat0)).otherwise(lat_gen))


def orthographic(
    df: DataFrame,
    lon0: float = 0.0,
    lat0: float = 52.0,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Spherical orthographic (Snyder 1987 eq. 20-3..20-5) — the view
    from infinity: x = R cos f sin dl; y = R (cos f0 sin f - sin f0
    cos f cos dl); hypot(x, y) = R sin c, the defining property the
    tests pin. Points on the BACK hemisphere (cos c < 0) project onto
    the same disc as their mirror — rows carry ``ort_front`` so callers
    can clip (the projection itself is only injective on one
    hemisphere). Pure codegen column math."""
    f0 = math.radians(lat0)
    dl = F.radians(F.col(lon) - F.lit(lon0))
    f = F.radians(F.col(lat))
    cosc = (
        F.lit(math.sin(f0)) * F.sin(f)
        + F.lit(math.cos(f0)) * F.cos(f) * F.cos(dl)
    )
    x, y = orthographic_xy(lon0, lat0)(F.col(lon), F.col(lat))
    return (
        df.withColumn("orx", x)
        .withColumn("ory", y)
        .withColumn("ort_front", cosc >= F.lit(0.0))
    )


def orthographic_xy(lon0: float = 0.0, lat0: float = 52.0):
    """:func:`orthographic` as a column-pair builder — coordinates
    only; the hemisphere flag (``ort_front``) is point-table metadata
    neither layer path carries (project_layer's out= is the same two
    columns)."""
    f0 = math.radians(lat0)

    def fxy(lon_col, lat_col):
        dl = F.radians(lon_col - F.lit(lon0))
        f = F.radians(lat_col)
        x = F.lit(R) * F.cos(f) * F.sin(dl)
        y = F.lit(R) * (
            F.lit(math.cos(f0)) * F.sin(f)
            - F.lit(math.sin(f0)) * F.cos(f) * F.cos(dl)
        )
        return x, y

    return fxy


def orthographic_inverse(
    df: DataFrame,
    lon0: float = 0.0,
    lat0: float = 52.0,
    orx: str = "orx",
    ory: str = "ory",
) -> DataFrame:
    """Inverse spherical orthographic for FRONT-hemisphere points
    (Snyder eq. 20-14..18 with 20-19: c = asin(rho / R); rounding can
    push rho a few ulp past R at the limb — clamped). The rho=0 center
    maps back exactly."""
    f0 = math.radians(lat0)
    rho = F.sqrt(F.col(orx) * F.col(orx) + F.col(ory) * F.col(ory))
    c = F.asin(F.least(F.lit(1.0), rho / F.lit(R)))
    lat_gen = F.degrees(
        F.asin(
            F.cos(c) * F.lit(math.sin(f0))
            + F.col(ory) * F.sin(c) * F.lit(math.cos(f0)) / rho
        )
    )
    lon_gen = F.lit(lon0) + F.degrees(
        F.atan2(
            F.col(orx) * F.sin(c),
            rho * F.lit(math.cos(f0)) * F.cos(c)
            - F.col(ory) * F.lit(math.sin(f0)) * F.sin(c),
        )
    )
    at_center = rho == F.lit(0.0)
    return df.withColumn(
        "lon2", F.when(at_center, F.lit(lon0)).otherwise(lon_gen)
    ).withColumn("lat2", F.when(at_center, F.lit(lat0)).otherwise(lat_gen))


def gnomonic(
    df: DataFrame,
    lon0: float = 0.0,
    lat0: float = 52.0,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Spherical gnomonic (Snyder 1987 eq. 22-4, 22-5): k = 1 / cos c;
    x = R k cos f sin dl; y = R k (cos f0 sin f - sin f0 cos f cos dl).
    The DEFINING property the tests pin: every GREAT CIRCLE maps to a
    straight line (the projection navigators use for great-circle
    routes). Only the near hemisphere projects (cos c -> 0 at 90° from
    the center; the far hemisphere mirrors through the origin) — rows
    carry ``gno_front`` so callers can clip. Pure codegen column
    math."""
    f0 = math.radians(lat0)
    dl = F.radians(F.col(lon) - F.lit(lon0))
    f = F.radians(F.col(lat))
    cosc = (
        F.lit(math.sin(f0)) * F.sin(f)
        + F.lit(math.cos(f0)) * F.cos(f) * F.cos(dl)
    )
    x, y = gnomonic_xy(lon0, lat0)(F.col(lon), F.col(lat))
    return (
        df.withColumn("gnx", x)
        .withColumn("gny", y)
        .withColumn("gno_front", cosc > F.lit(0.0))
    )


def gnomonic_xy(lon0: float = 0.0, lat0: float = 52.0):
    """:func:`gnomonic` as a column-pair builder (coordinates only —
    see :func:`orthographic_xy` on the hemisphere flag)."""
    f0 = math.radians(lat0)

    def fxy(lon_col, lat_col):
        dl = F.radians(lon_col - F.lit(lon0))
        f = F.radians(lat_col)
        cosc = (
            F.lit(math.sin(f0)) * F.sin(f)
            + F.lit(math.cos(f0)) * F.cos(f) * F.cos(dl)
        )
        x = F.lit(R) * F.cos(f) * F.sin(dl) / cosc
        y = (
            F.lit(R)
            * (
                F.lit(math.cos(f0)) * F.sin(f)
                - F.lit(math.sin(f0)) * F.cos(f) * F.cos(dl)
            )
            / cosc
        )
        return x, y

    return fxy


def gnomonic_inverse(
    df: DataFrame,
    lon0: float = 0.0,
    lat0: float = 52.0,
    gnx: str = "gnx",
    gny: str = "gny",
) -> DataFrame:
    """Inverse spherical gnomonic for front-hemisphere points (Snyder
    eq. 20-14..18 with 22-16: c = atan(rho / R)). The rho=0 center maps
    back exactly."""
    f0 = math.radians(lat0)
    rho = F.sqrt(F.col(gnx) * F.col(gnx) + F.col(gny) * F.col(gny))
    c = F.atan(rho / F.lit(R))
    lat_gen = F.degrees(
        F.asin(
            F.cos(c) * F.lit(math.sin(f0))
            + F.col(gny) * F.sin(c) * F.lit(math.cos(f0)) / rho
        )
    )
    lon_gen = F.lit(lon0) + F.degrees(
        F.atan2(
            F.col(gnx) * F.sin(c),
            rho * F.lit(math.cos(f0)) * F.cos(c)
            - F.col(gny) * F.lit(math.sin(f0)) * F.sin(c),
        )
    )
    at_center = rho == F.lit(0.0)
    return df.withColumn(
        "lon2", F.when(at_center, F.lit(lon0)).otherwise(lon_gen)
    ).withColumn("lat2", F.when(at_center, F.lit(lat0)).otherwise(lat_gen))


def cassini(
    df: DataFrame,
    lon0: float = 0.0,
    lat0: float = 0.0,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Spherical Cassini(-Soldner) (Snyder 1987 eq. 13-1, 13-2):
    x = R asin(cos f sin dl); y = R (atan2(tan f, cos dl) - f0). The
    transverse equidistant: the DEFINING properties the tests pin are
    x = the true great-circle distance to the central meridian, and
    exact scale along it (x = 0, y = R (f - f0) on the meridian — the
    historic cadastral-survey projection). Pure codegen column math."""
    x, y = cassini_xy(lon0, lat0)(F.col(lon), F.col(lat))
    return df.withColumn("csx", x).withColumn("csy", y)


def cassini_xy(lon0: float = 0.0, lat0: float = 0.0):
    """:func:`cassini` as a column-pair builder."""
    f0 = math.radians(lat0)

    def fxy(lon_col, lat_col):
        dl = F.radians(lon_col - F.lit(lon0))
        f = F.radians(lat_col)
        x = F.lit(R) * F.asin(F.cos(f) * F.sin(dl))
        y = F.lit(R) * (F.atan2(F.sin(f), F.cos(f) * F.cos(dl)) - F.lit(f0))
        return x, y

    return fxy


def cassini_inverse(
    df: DataFrame,
    lon0: float = 0.0,
    lat0: float = 0.0,
    csx: str = "csx",
    csy: str = "csy",
) -> DataFrame:
    """Inverse spherical Cassini (Snyder eq. 13-5, 13-6 with D = y/R +
    f0): f = asin(sin D cos(x/R)); l = lon0 + atan2(tan(x/R), cos D)."""
    f0 = math.radians(lat0)
    d = F.col(csy) / F.lit(R) + F.lit(f0)
    xr = F.col(csx) / F.lit(R)
    lat_gen = F.degrees(F.asin(F.sin(d) * F.cos(xr)))
    lon_gen = F.lit(lon0) + F.degrees(F.atan2(F.sin(xr), F.cos(xr) * F.cos(d)))
    return df.withColumn("lon2", lon_gen).withColumn("lat2", lat_gen)


def cylindrical_equal_area(
    df: DataFrame,
    lat_ts: float = 0.0,
    lon0: float = 0.0,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Cylindrical equal-area (Snyder 1987 eq. 10-1, 10-2): x = R dl
    cos fs; y = R sin f / cos fs. One closed form covers the whole
    named family by standard parallel ``lat_ts``: Lambert cylindrical
    (0°), Behrmann (30°), Gall–Peters (45°). Equal-area by
    construction (the quad check pins it); parallels are straight
    lines whose spacing compresses as sin f. Pure codegen column
    math."""
    x, y = cylindrical_equal_area_xy(lat_ts, lon0)(F.col(lon), F.col(lat))
    return df.withColumn("cex", x).withColumn("cey", y)


def cylindrical_equal_area_xy(lat_ts: float = 0.0, lon0: float = 0.0):
    """:func:`cylindrical_equal_area` as a column-pair builder."""
    cfs = math.cos(math.radians(lat_ts))

    def fxy(lon_col, lat_col):
        x = F.lit(R * cfs) * F.radians(lon_col - F.lit(lon0))
        y = F.lit(R / cfs) * F.sin(F.radians(lat_col))
        return x, y

    return fxy


def cylindrical_equal_area_inverse(
    df: DataFrame,
    lat_ts: float = 0.0,
    lon0: float = 0.0,
    cex: str = "cex",
    cey: str = "cey",
) -> DataFrame:
    """Inverse cylindrical equal-area (Snyder eq. 10-6, 10-7):
    f = asin(y cos fs / R); l = lon0 + x / (R cos fs)."""
    cfs = math.cos(math.radians(lat_ts))
    lat_gen = F.degrees(F.asin(F.col(cey) * F.lit(cfs / R)))
    lon_gen = F.lit(lon0) + F.degrees(F.col(cex) / F.lit(R * cfs))
    return df.withColumn("lon2", lon_gen).withColumn("lat2", lat_gen)


def miller(
    df: DataFrame, lon0: float = 0.0, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Miller cylindrical (Snyder 1987 eq. 11-1..11-3): x = R dl;
    y = (5R/4) ln tan(pi/4 + 2f/5) — Mercator's formula evaluated at
    4/5 of the latitude then stretched back by 5/4, which keeps the
    poles finite (y(90°) ≈ 1.832 R vs Mercator's infinity, the node
    the tests pin) while staying meridian-true. Neither equal-area nor
    conformal; pure codegen column math."""
    x, y = miller_xy(lon0)(F.col(lon), F.col(lat))
    return df.withColumn("mlx", x).withColumn("mly", y)


def miller_xy(lon0: float = 0.0):
    """:func:`miller` as a column-pair builder."""

    def fxy(lon_col, lat_col):
        x = F.lit(R) * F.radians(lon_col - F.lit(lon0))
        y = F.lit(1.25 * R) * F.log(
            F.tan(F.lit(math.pi / 4.0) + F.lit(0.4) * F.radians(lat_col))
        )
        return x, y

    return fxy


def miller_inverse(
    df: DataFrame, lon0: float = 0.0, mlx: str = "mlx", mly: str = "mly"
) -> DataFrame:
    """Inverse Miller (Snyder eq. 11-6, 11-7):
    f = 2.5 atan(e^(4y/5R)) - 5 pi / 8; l = lon0 + x/R."""
    lat_gen = F.degrees(
        F.lit(2.5) * F.atan(F.exp(F.lit(0.8 / R) * F.col(mly)))
        - F.lit(5.0 * math.pi / 8.0)
    )
    lon_gen = F.lit(lon0) + F.degrees(F.col(mlx) / F.lit(R))
    return df.withColumn("lon2", lon_gen).withColumn("lat2", lat_gen)


def bonne(
    df: DataFrame,
    lat1: float = 45.0,
    lon0: float = 0.0,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Bonne pseudoconic (Snyder 1987 eq. 19-1..19-3): rho = R (cot f1
    + f1 - f); E = R dl cos f / rho; x = rho sin E; y = R cot f1 - rho
    cos E. Equal-area; parallels are CONCENTRIC CIRCULAR ARCS about
    (0, R cot f1) with TRUE SCALE along every parallel (arc length
    rho·E = R dl cos f — the defining property the tests pin; the
    heart-shaped historic atlas projection). With f1 = 45° the arc
    radius cot f1 + f1 - f stays positive everywhere, so the only
    special point is the exact pole pair on the inverse. Pure codegen
    column math."""
    x, y = bonne_xy(lat1, lon0)(F.col(lon), F.col(lat))
    return df.withColumn("bnx", x).withColumn("bny", y)


def bonne_xy(lat1: float = 45.0, lon0: float = 0.0):
    """:func:`bonne` as a column-pair builder."""
    f1 = math.radians(lat1)
    cot1 = 1.0 / math.tan(f1)

    def fxy(lon_col, lat_col):
        f = F.radians(lat_col)
        rho = F.lit(R) * (F.lit(cot1 + f1) - f)
        e = F.lit(R) * F.radians(lon_col - F.lit(lon0)) * F.cos(f) / rho
        return rho * F.sin(e), F.lit(R * cot1) - rho * F.cos(e)

    return fxy


def bonne_inverse(
    df: DataFrame,
    lat1: float = 45.0,
    lon0: float = 0.0,
    bnx: str = "bnx",
    bny: str = "bny",
) -> DataFrame:
    """Inverse Bonne (Snyder eq. 19-6..19-9, northern f1): rho =
    hypot(x, R cot f1 - y); f = cot f1 + f1 - rho/R; l = lon0 +
    rho atan2(x, R cot f1 - y) / (R cos f). The exact poles (cos f = 0)
    map back to lon0 — every meridian meets there."""
    f1 = math.radians(lat1)
    cot1 = 1.0 / math.tan(f1)
    dy = F.lit(R * cot1) - F.col(bny)
    rho = F.sqrt(F.col(bnx) * F.col(bnx) + dy * dy)
    f = F.lit(cot1 + f1) - rho / F.lit(R)
    cosf = F.cos(f)
    lon_gen = F.lit(lon0) + F.degrees(rho * F.atan2(F.col(bnx), dy) / (F.lit(R) * cosf))
    return df.withColumn(
        "lon2",
        F.when(F.abs(cosf) < F.lit(1e-15), F.lit(lon0)).otherwise(lon_gen),
    ).withColumn("lat2", F.degrees(f))


_WT_F1 = math.acos(2.0 / math.pi)  # Winkel's standard parallel ~50.46°
_WT_ITERS = 16  # 2D Newton with a forward-difference Jacobian: the
# residual drives the update, so Jacobian truncation error (~eps) only
# slows the rate, never biases the root — measured 16 steps reach
# <=1e-9° over the full graticule incl. 89.999° and the date line
_WT_EPS = 1e-6  # FD step: sqrt(machine-eps)-scale balances truncation
# against cancellation in the difference quotient


def _wt_xy(f, dl):
    """Winkel Tripel forward pair in R=1 units (public formulas —
    Snyder's compendium / the NatGeo standard since 1998): the
    arithmetic mean of the equirectangular projection at φ1=acos(2/π)
    and Aitoff. a = acos(cos φ cos(Δλ/2)), sinc a guarded at 0."""
    half = dl * F.lit(0.5)
    ca = F.least(
        F.lit(1.0), F.greatest(F.lit(-1.0), F.cos(f) * F.cos(half))
    )
    a = F.acos(ca)
    sinc = F.when(a > F.lit(1e-12), F.sin(a) / a).otherwise(F.lit(1.0))
    x = (dl * F.lit(math.cos(_WT_F1)) + F.lit(2.0) * F.cos(f) * F.sin(half) / sinc) * F.lit(0.5)
    y = (f + F.sin(f) / sinc) * F.lit(0.5)
    return x, y


def winkel_tripel(
    df: DataFrame, lon0: float = 0.0, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Winkel Tripel [UPSTREAM -proj wintri — National Geographic's
    world-map projection since 1998]: the mean of equirectangular
    (φ1 = acos(2/π)) and Aitoff. Pure codegen column math."""
    x, y = winkel_tripel_xy(lon0)(F.col(lon), F.col(lat))
    return df.withColumn("wtx", x).withColumn("wty", y)


def winkel_tripel_xy(lon0: float = 0.0):
    """:func:`winkel_tripel` as a column-pair builder (the forward is
    closed-form; only the INVERSE needs the 2D Newton)."""

    def fxy(lon_col, lat_col):
        f = F.radians(lat_col)
        dl = F.radians(lon_col - F.lit(lon0))
        x, y = _wt_xy(f, dl)
        return F.lit(R) * x, F.lit(R) * y

    return fxy


def winkel_tripel_inverse(
    df: DataFrame, lon0: float = 0.0, wtx: str = "wtx", wty: str = "wty"
) -> DataFrame:
    """Inverse Winkel Tripel — NO closed form exists (the projection is
    non-analytic to invert; reference implementations all iterate, e.g.
    Ipbuker & Bildirici 2002): fixed-count 2D Newton, codegen-side like
    the Mollweide/Eckert solves. Each step evaluates the forward pair at
    (φ,λ), (φ+ε,λ), (φ,λ+ε) — a forward-difference Jacobian — and
    solves the 2×2 system exactly; every intermediate is rebound
    through ``withColumn`` so the expression tree stays LINEAR in the
    iteration count. Initial guess φ0 = Y (y/R ≈ φ along the central
    meridian and exactly φ at equator/pole), λ0 = 2X/(1+cos φ1) (exact
    on the equator). Degenerate Jacobians (|det| → 0) skip the step —
    the iterate simply stays, matching the pole rows where y is
    constant in λ (there det ≠ 0 anyway via the off-diagonal product).
    Updates clamp to the valid (φ, λ) box so a wild early step cannot
    escape the chart."""
    X = F.col(wtx) / F.lit(R)
    Y = F.col(wty) / F.lit(R)
    out = df.withColumn(
        "_wt_f",
        F.least(
            F.lit(math.pi / 2.0), F.greatest(F.lit(-math.pi / 2.0), Y)
        ),
    ).withColumn(
        "_wt_l",
        F.least(
            F.lit(math.pi),
            F.greatest(
                F.lit(-math.pi),
                X * F.lit(2.0 / (1.0 + math.cos(_WT_F1))),
            ),
        ),
    )
    for _ in range(_WT_ITERS):
        f, l = F.col("_wt_f"), F.col("_wt_l")
        x0, y0 = _wt_xy(f, l)
        out = out.withColumn("_wt_x0", x0).withColumn("_wt_y0", y0)
        xf, yf = _wt_xy(f + F.lit(_WT_EPS), l)
        out = out.withColumn("_wt_xf", xf).withColumn("_wt_yf", yf)
        xl, yl = _wt_xy(f, l + F.lit(_WT_EPS))
        out = out.withColumn("_wt_xl", xl).withColumn("_wt_yl", yl)
        j00 = (F.col("_wt_xf") - F.col("_wt_x0")) / F.lit(_WT_EPS)
        j01 = (F.col("_wt_xl") - F.col("_wt_x0")) / F.lit(_WT_EPS)
        j10 = (F.col("_wt_yf") - F.col("_wt_y0")) / F.lit(_WT_EPS)
        j11 = (F.col("_wt_yl") - F.col("_wt_y0")) / F.lit(_WT_EPS)
        out = out.withColumn("_wt_det", j00 * j11 - j01 * j10)
        r0 = X - F.col("_wt_x0")
        r1 = Y - F.col("_wt_y0")
        ok = F.abs(F.col("_wt_det")) > F.lit(1e-300)
        df_step = F.when(
            ok, (j11 * r0 - j01 * r1) / F.col("_wt_det")
        ).otherwise(F.lit(0.0))
        dl_step = F.when(
            ok, (j00 * r1 - j10 * r0) / F.col("_wt_det")
        ).otherwise(F.lit(0.0))
        out = out.withColumn(
            "_wt_f2",
            F.least(
                F.lit(math.pi / 2.0),
                F.greatest(F.lit(-math.pi / 2.0), F.col("_wt_f") + df_step),
            ),
        ).withColumn(
            "_wt_l2",
            F.least(
                F.lit(math.pi),
                F.greatest(F.lit(-math.pi), F.col("_wt_l") + dl_step),
            ),
        )
        out = (
            out.withColumn("_wt_f", F.col("_wt_f2"))
            .withColumn("_wt_l", F.col("_wt_l2"))
            .drop(
                "_wt_x0", "_wt_y0", "_wt_xf", "_wt_yf",
                "_wt_xl", "_wt_yl", "_wt_det", "_wt_f2", "_wt_l2",
            )
        )
    return (
        out.withColumn("lat2", F.degrees(F.col("_wt_f")))
        .withColumn("lon2", F.lit(lon0) + F.degrees(F.col("_wt_l")))
        .drop("_wt_f", "_wt_l")
    )


def project_layer(
    features: DataFrame,
    fwd,
    out: tuple[str, str],
    keys: tuple[str, ...] = ("poly_id", "ring_idx"),
    xs: str = "xs",
    ys: str = "ys",
) -> DataFrame:
    """Apply any point projection to a RING-ARRAY layer — upstream's
    ``-proj`` reprojects whole layers, not point tables [UPSTREAM
    mapshaper-proj.mjs]. Generic over every projection in this module:
    ``fwd`` is the point-table function (or a lambda binding its
    parameters) and ``out`` names the two columns it appends (e.g.
    ``("mx", "my")`` for :func:`to_webmercator`).

    Plan shape: posexplode the vertex arrays → the projection's pure
    codegen column math per vertex → positional regroup
    (array_sort(collect_list(struct(pos, v)))) — one shuffle on the
    ring keys, everything JVM-side; the same explode→regroup prefix-sum
    pattern the quantized TopoJSON import uses. Vertex order is
    restored exactly by pos, so ring orientation survives."""
    pe = features.select(
        *keys,
        F.posexplode(F.arrays_zip(F.col(xs), F.col(ys))).alias("_pos", "_p"),
    ).select(
        *keys,
        "_pos",
        F.col(f"_p.{xs}").alias("lon"),
        F.col(f"_p.{ys}").alias("lat"),
    )
    pr = fwd(pe)
    ox, oy = out
    return (
        pr.groupBy(*keys)
        .agg(
            F.array_sort(F.collect_list(F.struct("_pos", F.col(ox).alias("v")))).alias("_px"),
            F.array_sort(F.collect_list(F.struct("_pos", F.col(oy).alias("v")))).alias("_py"),
        )
        .select(
            *keys,
            F.expr("transform(_px, s -> s.v)").alias(xs),
            F.expr("transform(_py, s -> s.v)").alias(ys),
        )
    )


def project_layer_inplace(
    features: DataFrame,
    fxy,
    xs: str = "xs",
    ys: str = "ys",
) -> DataFrame:
    """ZERO-SHUFFLE layer reprojection for closed-form projections: the
    projection's column math runs INSIDE the vertex arrays as zip_with
    lambdas — no posexplode, no regroup, no exchange anywhere in the
    plan. :func:`project_layer`'s regroup shuffle dominates its cost
    for a cheap projection; this path is a pure map stage, so at
    100 TB it scales as a scan.

    ``fxy`` is a COLUMN-PAIR builder ``(lon, lat) -> (x, y)``
    (:func:`webmercator_xy`, :func:`webmercator_inv_xy`,
    :func:`rotate_sphere_xy`) — the same expression trees the
    point-table functions build, so values match the explode path
    BITWISE (pinned in pytest). Each output array gets its own
    zip_with lambda and only that coordinate's expression enters the
    plan (the discarded half of the tuple never materializes).

    Only closed-form projections take this path (the builders in
    :data:`XY_BUILDERS`). Higher-order-function lambdas evaluate
    interpreted, outside whole-stage codegen. A closed form still
    breaks even or wins on the saved shuffle (BENCH/proj_probe.json,
    4 cores, 10M vertices: WebMercator 1.45 vs 3.56 s, rotation 5.04
    vs 4.91 s), but a Newton solve iterating inside the lambda
    measured 2.7-9.6x slower than :func:`project_layer` at 1M
    vertices (BENCH/BASELINE.md, part-8 proj finding), so those
    projections stay on the explode path.

    All non-vertex columns pass through untouched (passthrough shape —
    no slim-ids join needed since nothing shuffles)."""
    new_xs = F.zip_with(F.col(xs), F.col(ys), lambda a, b: fxy(a, b)[0])
    new_ys = F.zip_with(F.col(xs), F.col(ys), lambda a, b: fxy(a, b)[1])
    return features.select(
        *[
            new_xs.alias(xs)
            if c == xs
            else (new_ys.alias(ys) if c == ys else F.col(c))
            for c in features.columns
        ]
    )


def rotate_sphere(
    df: DataFrame,
    angles: tuple[float, float, float],
    lon: str = "lon",
    lat: str = "lat",
    out: tuple[str, str] = ("rlon", "rlat"),
) -> DataFrame:
    """``-rotate``: spherical rotation of a lat-long dataset by Euler
    angles (dlam, dphi, dgamma) in degrees [UPSTREAM
    ``src/commands/mapshaper-rotate.mjs`` — public knowledge of
    mbloch/mapshaper; /root/reference is empty, SURVEY.md §0 — upstream
    rotates world layers before projecting (re-center a world map on
    the Pacific, put a chosen city at the projection center)].

    Convention is the d3-geo one upstream uses: rotate longitude by
    dlam, then the phi/gamma rotation on the unit sphere —
    x = cos(l + dlam) cos(p), y = sin(l + dlam) cos(p), z = sin(p),
    k = z cos(dphi) + x sin(dphi),
    lon' = atan2(y cos(dg) - k sin(dg), x cos(dphi) - z sin(dphi)),
    lat' = asin(k cos(dg) + y sin(dg)).
    Longitudes enter only through cos/sin and leave through atan2, so
    the output is always in [-180, 180] with no explicit wrapping.
    PURE CODEGEN column math; rotation is an isometry of the sphere
    (great-circle distances are preserved — the property pytest pins
    it). Not hash-oracled: trig is not ULP-portable across libm
    [SURVEY.md §5.2], same as every -proj row."""
    olon, olat = out
    lon_c, lat_c = rotate_sphere_xy(angles)(F.col(lon), F.col(lat))
    return df.withColumn(olon, lon_c).withColumn(olat, lat_c)


def rotate_sphere_xy(angles: tuple[float, float, float]):
    """:func:`rotate_sphere` as a column-pair builder (for the
    zero-shuffle ring-array path): returns ``fxy(lon, lat) ->
    (lon', lat')`` with the identical expression tree."""
    dl, dp, dg = (math.radians(a) for a in angles)

    def fxy(lon_col, lat_col):
        l = F.radians(lon_col) + F.lit(dl)
        p = F.radians(lat_col)
        x = F.cos(l) * F.cos(p)
        y = F.sin(l) * F.cos(p)
        z = F.sin(p)
        k = z * F.lit(math.cos(dp)) + x * F.lit(math.sin(dp))
        olon = F.degrees(
            F.atan2(
                y * F.lit(math.cos(dg)) - k * F.lit(math.sin(dg)),
                x * F.lit(math.cos(dp)) - z * F.lit(math.sin(dp)),
            )
        )
        olat = F.degrees(
            F.asin(
                F.greatest(
                    F.lit(-1.0),
                    F.least(
                        F.lit(1.0), k * F.lit(math.cos(dg)) + y * F.lit(math.sin(dg))
                    ),
                )
            )
        )
        return olon, olat

    return fxy


def rotate_sphere_inverse(
    df: DataFrame,
    angles: tuple[float, float, float],
    lon: str = "rlon",
    lat: str = "rlat",
    out: tuple[str, str] = ("lon2", "lat2"),
) -> DataFrame:
    """Inverse of :func:`rotate_sphere`: the phi/gamma rotation inverts
    with negated angles in reverse order (gamma first, then phi), and
    the longitude shift subtracts at the END — the mirror of the
    forward composition. The final wrap keeps lon2 in [-180, 180]
    (the subtraction can leave the atan2 range)."""
    dl, dp, dg = (math.radians(a) for a in angles)
    l = F.radians(F.col(lon))
    p = F.radians(F.col(lat))
    x = F.cos(l) * F.cos(p)
    y = F.sin(l) * F.cos(p)
    z = F.sin(p)
    # inverse gamma (about the x-axis analog), then inverse phi
    k = z * F.lit(math.cos(-dg)) + y * F.lit(math.sin(-dg))
    y2 = y * F.lit(math.cos(-dg)) - z * F.lit(math.sin(-dg))
    z2 = k
    k2 = z2 * F.lit(math.cos(-dp)) + x * F.lit(math.sin(-dp))
    x2 = x * F.lit(math.cos(-dp)) - z2 * F.lit(math.sin(-dp))
    olon, olat = out
    lon_unwrapped = F.degrees(F.atan2(y2, x2)) - F.lit(math.degrees(dl))
    return df.withColumn(
        olon,
        lon_unwrapped
        - F.lit(360.0)
        * F.floor((lon_unwrapped + F.lit(180.0)) / F.lit(360.0)),
    ).withColumn(
        olat,
        F.degrees(
            F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), k2)))
        ),
    )


def _aitoff_xy(f, dl):
    """Aitoff forward pair in R=1 units (public formulas — Snyder):
    a = acos(cos φ cos(Δλ/2)), sinc a guarded at 0;
    x = 2 cos φ sin(Δλ/2)/sinc a, y = sin φ / sinc a. The same
    component :func:`_wt_xy` averages with equirectangular."""
    half = dl * F.lit(0.5)
    ca = F.least(F.lit(1.0), F.greatest(F.lit(-1.0), F.cos(f) * F.cos(half)))
    a = F.acos(ca)
    sinc = F.when(a > F.lit(1e-12), F.sin(a) / a).otherwise(F.lit(1.0))
    x = F.lit(2.0) * F.cos(f) * F.sin(half) / sinc
    y = F.sin(f) / sinc
    return x, y


def aitoff(
    df: DataFrame, lon0: float = 0.0, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Aitoff [UPSTREAM -proj aitoff — in mapshaper's bundled
    projection set; the azimuthal-equidistant-stretch world map whose
    mean with equirectangular is Winkel Tripel]. Pure codegen column
    math; appends (atx, aty)."""
    x, y = aitoff_xy(lon0)(F.col(lon), F.col(lat))
    return df.withColumn("atx", x).withColumn("aty", y)


def aitoff_xy(lon0: float = 0.0):
    """:func:`aitoff` as a column-pair builder."""

    def fxy(lon_col, lat_col):
        f = F.radians(lat_col)
        dl = F.radians(lon_col - F.lit(lon0))
        x, y = _aitoff_xy(f, dl)
        return F.lit(R) * x, F.lit(R) * y

    return fxy


def aitoff_inverse(
    df: DataFrame, lon0: float = 0.0, atx: str = "atx", aty: str = "aty"
) -> DataFrame:
    """Inverse Aitoff — no closed form; the same fixed-count 2D Newton
    with a forward-difference Jacobian as :func:`winkel_tripel_inverse`
    (every intermediate rebound through withColumn, degenerate
    Jacobians skip the step, iterates clamp to the chart box). Initial
    guesses are EXACT on the axes: y = φ on the central meridian,
    x = Δλ on the equator."""
    X = F.col(atx) / F.lit(R)
    Y = F.col(aty) / F.lit(R)
    out = df.withColumn(
        "_at_f",
        F.least(F.lit(math.pi / 2.0), F.greatest(F.lit(-math.pi / 2.0), Y)),
    ).withColumn(
        "_at_l",
        F.least(F.lit(math.pi), F.greatest(F.lit(-math.pi), X)),
    )
    for _ in range(_WT_ITERS):
        f, l = F.col("_at_f"), F.col("_at_l")
        x0, y0 = _aitoff_xy(f, l)
        out = out.withColumn("_at_x0", x0).withColumn("_at_y0", y0)
        xf, yf = _aitoff_xy(f + F.lit(_WT_EPS), l)
        out = out.withColumn("_at_xf", xf).withColumn("_at_yf", yf)
        xl, yl = _aitoff_xy(f, l + F.lit(_WT_EPS))
        out = out.withColumn("_at_xl", xl).withColumn("_at_yl", yl)
        j00 = (F.col("_at_xf") - F.col("_at_x0")) / F.lit(_WT_EPS)
        j01 = (F.col("_at_xl") - F.col("_at_x0")) / F.lit(_WT_EPS)
        j10 = (F.col("_at_yf") - F.col("_at_y0")) / F.lit(_WT_EPS)
        j11 = (F.col("_at_yl") - F.col("_at_y0")) / F.lit(_WT_EPS)
        out = out.withColumn("_at_det", j00 * j11 - j01 * j10)
        r0 = X - F.col("_at_x0")
        r1 = Y - F.col("_at_y0")
        ok = F.abs(F.col("_at_det")) > F.lit(1e-300)
        df_step = F.when(
            ok, (j11 * r0 - j01 * r1) / F.col("_at_det")
        ).otherwise(F.lit(0.0))
        dl_step = F.when(
            ok, (j00 * r1 - j10 * r0) / F.col("_at_det")
        ).otherwise(F.lit(0.0))
        out = out.withColumn(
            "_at_f2",
            F.least(
                F.lit(math.pi / 2.0),
                F.greatest(F.lit(-math.pi / 2.0), F.col("_at_f") + df_step),
            ),
        ).withColumn(
            "_at_l2",
            F.least(
                F.lit(math.pi),
                F.greatest(F.lit(-math.pi), F.col("_at_l") + dl_step),
            ),
        )
        out = (
            out.drop("_at_f", "_at_l")
            .withColumnRenamed("_at_f2", "_at_f")
            .withColumnRenamed("_at_l2", "_at_l")
        )
    return (
        out.withColumn("lat2", F.degrees(F.col("_at_f")))
        .withColumn("lon2", F.degrees(F.col("_at_l")) + F.lit(lon0))
        .drop(*[c for c in out.columns if c.startswith("_at_")])
    )


def hammer(
    df: DataFrame, lon0: float = 0.0, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Hammer (Hammer–Aitoff) [UPSTREAM -proj hammer — the EQUAL-AREA
    world ellipse in mapshaper's bundled set]: public formulas —
    den = sqrt(1 + cos φ cos(Δλ/2)),
    x = 2√2 cos φ sin(Δλ/2)/den, y = √2 sin φ/den. Pure codegen
    column math; appends (hmx, hmy); the equal-area quad pytest pins
    the defining property."""
    x, y = hammer_xy(lon0)(F.col(lon), F.col(lat))
    return df.withColumn("hmx", x).withColumn("hmy", y)


def hammer_xy(lon0: float = 0.0):
    """:func:`hammer` as a column-pair builder."""

    def fxy(lon_col, lat_col):
        f = F.radians(lat_col)
        half = F.radians(lon_col - F.lit(lon0)) * F.lit(0.5)
        den = F.sqrt(F.lit(1.0) + F.cos(f) * F.cos(half))
        x = F.lit(R) * F.lit(2.0 * math.sqrt(2.0)) * F.cos(f) * F.sin(half) / den
        y = F.lit(R) * F.lit(math.sqrt(2.0)) * F.sin(f) / den
        return x, y

    return fxy


def hammer_inverse(
    df: DataFrame, lon0: float = 0.0, hmx: str = "hmx", hmy: str = "hmy"
) -> DataFrame:
    """CLOSED-FORM Hammer inverse (public formulas):
    z = sqrt(1 − (X/4)² − (Y/2)²), λ = 2 atan2(zX, 2(2z² − 1)),
    φ = asin(zY), with X = x/R, Y = y/R exactly as the forward emits
    them (the 2√2/√2 amplitudes already place the map boundary on
    X²/16 + Y²/4 = 1 — date line at X = 2√2 gives z² = 1/2 and
    λ = 2·atan2(2, 0) = π; a √2 rescale here would collapse z to 0
    and wrap the date line to 2π). The asin argument clamps for pole
    rows at the roundoff boundary."""
    X = F.col(hmx) / F.lit(R)
    Y = F.col(hmy) / F.lit(R)
    z2 = F.lit(1.0) - (X / F.lit(4.0)) * (X / F.lit(4.0)) - (
        Y / F.lit(2.0)
    ) * (Y / F.lit(2.0))
    z = F.sqrt(F.greatest(F.lit(0.0), z2))
    return df.withColumn(
        "lon2",
        F.degrees(
            F.lit(2.0)
            * F.atan2(z * X, F.lit(2.0) * (F.lit(2.0) * z * z - F.lit(1.0)))
        )
        + F.lit(lon0),
    ).withColumn(
        "lat2",
        F.degrees(
            F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), z * Y)))
        ),
    )


# Projections with a COLUMN-PAIR builder: the pipeline runner's
# `project`/`rotate` ops run these in place through the zero-shuffle
# :func:`project_layer_inplace`; every other projection runs through
# :func:`project_layer`. Values are factories taking the projection's
# parameter kwargs and returning the ``fxy(lon, lat) -> (x, y)`` pair
# builder. Every entry is CLOSED-FORM and its point-table function
# builds from the same builder, so both paths share one expression
# tree. Registered: every forward except utm (its zone/hemisphere
# outputs are metadata beyond (x, y)) and the Newton solves
# (mollweide, eckert4); of the inverses only from_webmercator. A
# Newton solve would iterate inside a zip_with lambda, and
# higher-order-function lambdas evaluate interpreted (no whole-stage
# codegen): measured 2.7-9.6x slower than the codegen'd explode path
# at 1M vertices (BENCH/BASELINE.md, part-8 proj finding).
XY_BUILDERS = {
    "to_webmercator": lambda: webmercator_xy,
    "from_webmercator": lambda: webmercator_inv_xy,
    "sinusoidal": sinusoidal_xy,
    "rotate_sphere": rotate_sphere_xy,
    "albers": albers_xy,
    "lambert_cc": lambert_cc_xy,
    "lambert_azimuthal": lambert_azimuthal_xy,
    "azimuthal_equidistant": azimuthal_equidistant_xy,
    "stereographic": stereographic_xy,
    "orthographic": orthographic_xy,
    "gnomonic": gnomonic_xy,
    "cassini": cassini_xy,
    "cylindrical_equal_area": cylindrical_equal_area_xy,
    "miller": miller_xy,
    "bonne": bonne_xy,
    "natural_earth": natural_earth_xy,
    "equal_earth": equal_earth_xy,
    "transverse_mercator": transverse_mercator_xy,
    "robinson": robinson_xy,
    "winkel_tripel": winkel_tripel_xy,
    "aitoff": aitoff_xy,
    "hammer": hammer_xy,
}
