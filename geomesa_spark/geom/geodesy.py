"""Geodesy: WGS84 spheroid distances (Vincenty inverse) and a small CRS
registry with transform support (st_transform / st_distanceSpheroid /
st_lengthSpheroid — reference GeometricDistanceFunctions.scala:22-65 uses
GeoTools GeodeticCalculator orthodromic distance).

Supported CRS: EPSG:4326, EPSG:3857 (web mercator), EPSG:27700 (OSGB / Airy
1830 with 7-param Helmert), EPSG:326xx/327xx (UTM on WGS84), EPSG:2154
(RGF93 / Lambert-93, LCC 2SP on GRS80), EPSG:5070 (NAD83 / Conus Albers
equal-area on GRS80), parameterized "LCC:sp1,sp2,lat0,lon0,fe,fn" /
"AEA:sp1,sp2,lat0,lon0,fe,fn" (GRS80 unless a,rf appended) /
"TM:k0,lat0,lon0,fe,fn[,a,rf]" (WGS84 default) strings, and proj4-style
"+proj=longlat|webmerc|utm|tmerc|lcc|aea ..." strings with +ellps/+a/+rf/+b
(datum-shift params +towgs84/+nadgrids are rejected, not ignored). RGF93 and
NAD83 are treated as coincident with WGS84 (cm-level, the standard
null-transformation assumption). Pure numpy, derived from published
formulas (Vincenty 1975; OSGB "A guide to coordinate systems in Great
Britain"; Karney-free series TM; Snyder, "Map Projections — A Working
Manual", USGS PP 1395, pp. 98-110 for LCC/Albers)."""

from __future__ import annotations

import math

import numpy as np

# WGS84
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_B = WGS84_A * (1 - WGS84_F)

# Airy 1830 (OSGB36)
AIRY_A = 6377563.396
AIRY_B = 6356256.909


def vincenty_inverse(lon1, lat1, lon2, lat2, a=WGS84_A, f=WGS84_F) -> float:
    """Vincenty inverse geodesic distance (meters) on the WGS84 ellipsoid."""
    b = a * (1 - f)
    L = math.radians(lon2 - lon1)
    U1 = math.atan((1 - f) * math.tan(math.radians(lat1)))
    U2 = math.atan((1 - f) * math.tan(math.radians(lat2)))
    sinU1, cosU1 = math.sin(U1), math.cos(U1)
    sinU2, cosU2 = math.sin(U2), math.cos(U2)
    lam = L
    for _ in range(200):
        sinLam, cosLam = math.sin(lam), math.cos(lam)
        sinSigma = math.sqrt(
            (cosU2 * sinLam) ** 2 + (cosU1 * sinU2 - sinU1 * cosU2 * cosLam) ** 2
        )
        if sinSigma == 0:
            return 0.0
        cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosLam
        sigma = math.atan2(sinSigma, cosSigma)
        sinAlpha = cosU1 * cosU2 * sinLam / sinSigma
        cos2Alpha = 1 - sinAlpha**2
        cos2SigmaM = (
            cosSigma - 2 * sinU1 * sinU2 / cos2Alpha if cos2Alpha != 0 else 0.0
        )
        C = f / 16 * cos2Alpha * (4 + f * (4 - 3 * cos2Alpha))
        lamPrev = lam
        lam = L + (1 - C) * f * sinAlpha * (
            sigma
            + C
            * sinSigma
            * (cos2SigmaM + C * cosSigma * (-1 + 2 * cos2SigmaM**2))
        )
        if abs(lam - lamPrev) < 1e-12:
            break
    u2 = cos2Alpha * (a**2 - b**2) / b**2
    A = 1 + u2 / 16384 * (4096 + u2 * (-768 + u2 * (320 - 175 * u2)))
    B = u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2)))
    deltaSigma = (
        B
        * sinSigma
        * (
            cos2SigmaM
            + B
            / 4
            * (
                cosSigma * (-1 + 2 * cos2SigmaM**2)
                - B
                / 6
                * cos2SigmaM
                * (-3 + 4 * sinSigma**2)
                * (-3 + 4 * cos2SigmaM**2)
            )
        )
    )
    return b * A * (sigma - deltaSigma)


# ------------------------------------------------------------- CRS transforms


def _geodetic_to_ecef(lon, lat, h, a, b):
    e2 = 1 - (b * b) / (a * a)
    lon, lat = np.radians(lon), np.radians(lat)
    N = a / np.sqrt(1 - e2 * np.sin(lat) ** 2)
    x = (N + h) * np.cos(lat) * np.cos(lon)
    y = (N + h) * np.cos(lat) * np.sin(lon)
    z = (N * (1 - e2) + h) * np.sin(lat)
    return x, y, z


def _ecef_to_geodetic(x, y, z, a, b):
    e2 = 1 - (b * b) / (a * a)
    p = np.sqrt(x * x + y * y)
    lon = np.arctan2(y, x)
    lat = np.arctan2(z, p * (1 - e2))
    for _ in range(8):
        N = a / np.sqrt(1 - e2 * np.sin(lat) ** 2)
        h = p / np.cos(lat) - N
        lat = np.arctan2(z, p * (1 - e2 * N / (N + h)))
    N = a / np.sqrt(1 - e2 * np.sin(lat) ** 2)
    h = p / np.cos(lat) - N
    return np.degrees(lon), np.degrees(lat), h


# WGS84 -> OSGB36 7-param Helmert (OS standard small-angle version)
_OSGB_HELMERT = dict(
    tx=-446.448, ty=125.157, tz=-542.060,  # meters
    rx=-0.1502, ry=-0.2470, rz=-0.8421,  # arc-seconds
    s=20.4894e-6,  # scale ppm
)


def _helmert(x, y, z, p, inverse=False):
    sgn = -1.0 if inverse else 1.0
    tx, ty, tz = sgn * p["tx"], sgn * p["ty"], sgn * p["tz"]
    rx = sgn * math.radians(p["rx"] / 3600)
    ry = sgn * math.radians(p["ry"] / 3600)
    rz = sgn * math.radians(p["rz"] / 3600)
    s = sgn * p["s"]
    x2 = tx + (1 + s) * x - rz * y + ry * z
    y2 = ty + rz * x + (1 + s) * y - rx * z
    z2 = tz - ry * x + rx * y + (1 + s) * z
    return x2, y2, z2


def _tm_forward(lon, lat, a, b, f0, lat0, lon0, e0, n0):
    """Transverse Mercator forward (OSGB/UTM formulation, numpy)."""
    lat = np.radians(np.asarray(lat, dtype=np.float64))
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    lat0 = math.radians(lat0)
    lon0 = math.radians(lon0)
    e2 = 1 - (b * b) / (a * a)
    n = (a - b) / (a + b)
    sinl, cosl, tanl = np.sin(lat), np.cos(lat), np.tan(lat)
    nu = a * f0 / np.sqrt(1 - e2 * sinl**2)
    rho = a * f0 * (1 - e2) / (1 - e2 * sinl**2) ** 1.5
    eta2 = nu / rho - 1
    M = (
        b
        * f0
        * (
            (1 + n + 5 / 4 * n**2 + 5 / 4 * n**3) * (lat - lat0)
            - (3 * n + 3 * n**2 + 21 / 8 * n**3)
            * np.sin(lat - lat0)
            * np.cos(lat + lat0)
            + (15 / 8 * n**2 + 15 / 8 * n**3)
            * np.sin(2 * (lat - lat0))
            * np.cos(2 * (lat + lat0))
            - 35 / 24 * n**3 * np.sin(3 * (lat - lat0)) * np.cos(3 * (lat + lat0))
        )
    )
    I = M + n0
    II = nu / 2 * sinl * cosl
    III = nu / 24 * sinl * cosl**3 * (5 - tanl**2 + 9 * eta2)
    IIIA = nu / 720 * sinl * cosl**5 * (61 - 58 * tanl**2 + tanl**4)
    IV = nu * cosl
    V = nu / 6 * cosl**3 * (nu / rho - tanl**2)
    VI = (
        nu
        / 120
        * cosl**5
        * (5 - 18 * tanl**2 + tanl**4 + 14 * eta2 - 58 * tanl**2 * eta2)
    )
    dl = lon - lon0
    north = I + II * dl**2 + III * dl**4 + IIIA * dl**6
    east = e0 + IV * dl + V * dl**3 + VI * dl**5
    return east, north


def _tm_inverse(east, north, a, b, f0, lat0, lon0, e0, n0):
    east = np.asarray(east, dtype=np.float64)
    north = np.asarray(north, dtype=np.float64)
    lat0r = math.radians(lat0)
    lon0r = math.radians(lon0)
    e2 = 1 - (b * b) / (a * a)
    n = (a - b) / (a + b)
    lat = (north - n0) / (a * f0) + lat0r
    for _ in range(20):
        M = (
            b
            * f0
            * (
                (1 + n + 5 / 4 * n**2 + 5 / 4 * n**3) * (lat - lat0r)
                - (3 * n + 3 * n**2 + 21 / 8 * n**3)
                * np.sin(lat - lat0r)
                * np.cos(lat + lat0r)
                + (15 / 8 * n**2 + 15 / 8 * n**3)
                * np.sin(2 * (lat - lat0r))
                * np.cos(2 * (lat + lat0r))
                - 35 / 24 * n**3 * np.sin(3 * (lat - lat0r)) * np.cos(3 * (lat + lat0r))
            )
        )
        lat = lat + (north - n0 - M) / (a * f0)
        if np.all(np.abs(north - n0 - M) < 1e-5):
            break
    sinl, cosl, tanl = np.sin(lat), np.cos(lat), np.tan(lat)
    nu = a * f0 / np.sqrt(1 - e2 * sinl**2)
    rho = a * f0 * (1 - e2) / (1 - e2 * sinl**2) ** 1.5
    eta2 = nu / rho - 1
    VII = tanl / (2 * rho * nu)
    VIII = tanl / (24 * rho * nu**3) * (5 + 3 * tanl**2 + eta2 - 9 * tanl**2 * eta2)
    IX = tanl / (720 * rho * nu**5) * (61 + 90 * tanl**2 + 45 * tanl**4)
    X = 1 / (cosl * nu)
    XI = 1 / (cosl * 6 * nu**3) * (nu / rho + 2 * tanl**2)
    XII = 1 / (cosl * 120 * nu**5) * (5 + 28 * tanl**2 + 24 * tanl**4)
    XIIA = (
        1
        / (cosl * 5040 * nu**7)
        * (61 + 662 * tanl**2 + 1320 * tanl**4 + 720 * tanl**6)
    )
    de = east - e0
    lat_out = lat - VII * de**2 + VIII * de**4 - IX * de**6
    lon_out = lon0r + X * de - XI * de**3 + XII * de**5 - XIIA * de**7
    return np.degrees(lon_out), np.degrees(lat_out)


def _web_mercator_fwd(lon, lat):
    R = 6378137.0
    x = np.radians(np.asarray(lon, dtype=np.float64)) * R
    y = R * np.log(np.tan(math.pi / 4 + np.radians(np.asarray(lat, dtype=np.float64)) / 2))
    return x, y


def _web_mercator_inv(x, y):
    R = 6378137.0
    lon = np.degrees(np.asarray(x, dtype=np.float64) / R)
    lat = np.degrees(2 * np.arctan(np.exp(np.asarray(y, dtype=np.float64) / R)) - math.pi / 2)
    return lon, lat


def _osgb_fwd(lon, lat):
    # WGS84 geodetic -> OSGB36 geodetic (Helmert) -> TM grid
    x, y, z = _geodetic_to_ecef(lon, lat, 0.0, WGS84_A, WGS84_B)
    x, y, z = _helmert(x, y, z, _OSGB_HELMERT)
    lon2, lat2, _ = _ecef_to_geodetic(x, y, z, AIRY_A, AIRY_B)
    return _tm_forward(
        lon2, lat2, AIRY_A, AIRY_B, 0.9996012717, 49.0, -2.0, 400000.0, -100000.0
    )


def _osgb_inv(e, n):
    lon2, lat2 = _tm_inverse(
        e, n, AIRY_A, AIRY_B, 0.9996012717, 49.0, -2.0, 400000.0, -100000.0
    )
    x, y, z = _geodetic_to_ecef(lon2, lat2, 0.0, AIRY_A, AIRY_B)
    x, y, z = _helmert(x, y, z, _OSGB_HELMERT, inverse=True)
    lon, lat, _ = _ecef_to_geodetic(x, y, z, WGS84_A, WGS84_B)
    return lon, lat


def _utm(zone: int, south: bool):
    lon0 = -183.0 + 6 * zone
    n0 = 10000000.0 if south else 0.0

    def fwd(lon, lat):
        return _tm_forward(lon, lat, WGS84_A, WGS84_B, 0.9996, 0.0, lon0, 500000.0, n0)

    def inv(e, n):
        return _tm_inverse(e, n, WGS84_A, WGS84_B, 0.9996, 0.0, lon0, 500000.0, n0)

    return fwd, inv


# GRS80 (RGF93, NAD83)
GRS80_A = 6378137.0
GRS80_RF = 298.257222101


def _lcc2sp(sp1, sp2, lat0, lon0, fe, fn, a=GRS80_A, rf=GRS80_RF, k0=1.0):
    """Lambert Conformal Conic, ellipsoidal (Snyder PP 1395 pp. 107-109,
    eqs 15-1..15-11 / 14-15, 14-9). Angles in degrees, lengths in meters.
    Returns (fwd, inv) over numpy arrays.

    sp1 == sp2 is the 1SP form (EPSG method 9801): the log-ratio for the
    cone constant degenerates to 0/0, whose analytic limit is n = sin(sp1)
    (l'Hopital on ln m / ln t — Snyder eq. 15-4 note). k0 is the 1SP scale
    factor at the natural origin (EPSG 9801 multiplies r = a F t^n by k0);
    the 2SP method (9802) has no scale factor, so pass k0=1 there."""
    f = 1.0 / rf
    e2 = f * (2 - f)
    e = math.sqrt(e2)

    def m(phi):
        s = np.sin(phi)
        return np.cos(phi) / np.sqrt(1 - e2 * s * s)

    def t(phi):
        s = np.sin(phi)
        return np.tan(math.pi / 4 - phi / 2) / ((1 - e * s) / (1 + e * s)) ** (e / 2)

    p1, p2, p0 = map(math.radians, (sp1, sp2, lat0))
    l0 = math.radians(lon0)
    m1, m2 = float(m(np.float64(p1))), float(m(np.float64(p2)))
    t1, t2, t0 = (float(t(np.float64(p))) for p in (p1, p2, p0))
    if sp1 == sp2:
        n = math.sin(p1)  # analytic limit of the 2SP log-ratio
    else:
        n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    if n == 0.0:
        raise ValueError(
            "LCC standard parallel at the equator is undefined (cone "
            "constant n = 0) — use mercator instead"
        )
    Fc = k0 * m1 / (n * t1**n)
    rho0 = a * Fc * t0**n

    def fwd(lon, lat):
        phi = np.radians(np.asarray(lat, dtype=np.float64))
        lam = np.radians(np.asarray(lon, dtype=np.float64))
        rho = a * Fc * t(phi) ** n
        th = n * (lam - l0)
        return fe + rho * np.sin(th), fn + rho0 - rho * np.cos(th)

    def inv(x, y):
        dx = np.asarray(x, dtype=np.float64) - fe
        dy = rho0 - (np.asarray(y, dtype=np.float64) - fn)
        rho = np.sign(n) * np.sqrt(dx * dx + dy * dy)
        tp = (rho / (a * Fc)) ** (1.0 / n)
        th = np.arctan2(np.sign(n) * dx, np.sign(n) * dy)
        lam = th / n + l0
        phi = math.pi / 2 - 2 * np.arctan(tp)
        for _ in range(8):
            s = e * np.sin(phi)
            phi_new = math.pi / 2 - 2 * np.arctan(
                tp * ((1 - s) / (1 + s)) ** (e / 2)
            )
            if np.all(np.abs(phi_new - phi) < 1e-12):
                phi = phi_new
                break
            phi = phi_new
        return np.degrees(lam), np.degrees(phi)

    return fwd, inv


def _albers(sp1, sp2, lat0, lon0, fe, fn, a=GRS80_A, rf=GRS80_RF):
    """Albers Equal-Area Conic, ellipsoidal (Snyder PP 1395 pp. 101-102,
    eqs 14-12..14-15 / 3-16). Angles in degrees, lengths in meters."""
    f = 1.0 / rf
    e2 = f * (2 - f)
    e = math.sqrt(e2)

    def m(phi):
        s = np.sin(phi)
        return np.cos(phi) / np.sqrt(1 - e2 * s * s)

    def q(phi):
        s = np.sin(phi)
        return (1 - e2) * (
            s / (1 - e2 * s * s) - (1 / (2 * e)) * np.log((1 - e * s) / (1 + e * s))
        )

    p1, p2, p0 = map(math.radians, (sp1, sp2, lat0))
    l0 = math.radians(lon0)
    m1, m2 = float(m(np.float64(p1))), float(m(np.float64(p2)))
    q1, q2, q0 = (float(q(np.float64(p))) for p in (p1, p2, p0))
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    C = m1 * m1 + n * q1
    rho0 = a * math.sqrt(C - n * q0) / n

    def fwd(lon, lat):
        phi = np.radians(np.asarray(lat, dtype=np.float64))
        lam = np.radians(np.asarray(lon, dtype=np.float64))
        rho = a * np.sqrt(C - n * q(phi)) / n
        th = n * (lam - l0)
        return fe + rho * np.sin(th), fn + rho0 - rho * np.cos(th)

    def inv(x, y):
        dx = np.asarray(x, dtype=np.float64) - fe
        dy = rho0 - (np.asarray(y, dtype=np.float64) - fn)
        rho = np.sqrt(dx * dx + dy * dy)
        qp = (C - (rho * n / a) ** 2) / n
        th = np.arctan2(np.sign(n) * dx, np.sign(n) * dy)
        lam = th / n + l0
        # iterate Snyder eq 3-16 for phi from q
        phi = np.arcsin(np.clip(qp / 2, -1, 1))
        for _ in range(10):
            s = np.sin(phi)
            es = e * s
            corr = (
                (1 - e2 * s * s) ** 2
                / (2 * np.cos(phi))
                * (
                    qp / (1 - e2)
                    - s / (1 - e2 * s * s)
                    + (1 / (2 * e)) * np.log((1 - es) / (1 + es))
                )
            )
            phi = phi + corr
            if np.all(np.abs(corr) < 1e-12):
                break
        return np.degrees(lam), np.degrees(phi)

    return fwd, inv


# named conic zones: EPSG:2154 RGF93/Lambert-93 (France), EPSG:5070
# NAD83/Conus Albers — both on GRS80 with the null WGS84 datum shift
_CONIC_CRS = {
    "EPSG:2154": ("lcc", (44.0, 49.0, 46.5, 3.0, 700000.0, 6600000.0)),
    "EPSG:5070": ("aea", (29.5, 45.5, 23.0, -96.0, 0.0, 0.0)),
}


def _tm_param(k0, lat0, lon0, fe, fn, a=WGS84_A, rf=1.0 / WGS84_F):
    """General parameterized transverse Mercator (any ellipsoid, no datum
    shift) — the projection family behind most national grids. Returns
    (fwd, inv) over numpy arrays."""
    b = a * (1.0 - 1.0 / rf)

    def fwd(lon, lat):
        return _tm_forward(lon, lat, a, b, k0, lat0, lon0, fe, fn)

    def inv(e, n):
        return _tm_inverse(e, n, a, b, k0, lat0, lon0, fe, fn)

    return fwd, inv


def _conic(crs: str):
    """Resolve a named or parameterized projection to (fwd, inv), or None.
    Parameterized: 'LCC:sp1,sp2,lat0,lon0,fe,fn[,a,rf]' (same for AEA:) and
    'TM:k0,lat0,lon0,fe,fn[,a,rf]' (transverse Mercator, WGS84 default)."""
    spec = _CONIC_CRS.get(crs)
    if spec is not None:
        fam, params = spec
        return (_lcc2sp if fam == "lcc" else _albers)(*params)
    if crs.startswith("LCC:") or crs.startswith("AEA:"):
        vals = [float(v) for v in crs[4:].split(",")]
        is_lcc = crs.startswith("LCC:")
        # LCC accepts a trailing k0 (1SP scale factor, EPSG 9801); AEA has
        # no scale-factor parameter in either EPSG method
        if len(vals) not in ((6, 8, 9) if is_lcc else (6, 8)):
            raise ValueError(
                f"parameterized conic CRS needs 6 or 8 values "
                f"(sp1,sp2,lat0,lon0,fe,fn[,a,rf{',k0' if is_lcc else ''}]): {crs}"
            )
        return (_lcc2sp if is_lcc else _albers)(*vals)
    if crs.startswith("TM:"):
        vals = [float(v) for v in crs[3:].split(",")]
        if len(vals) not in (5, 7):
            raise ValueError(
                f"parameterized TM CRS needs 5 or 7 values "
                f"(k0,lat0,lon0,fe,fn[,a,rf]): {crs}"
            )
        return _tm_param(*vals)
    return None


def _helmert7(X, Y, Z, params, inverse=False):
    """7-parameter Helmert transformation, position-vector convention
    (EPSG method 9606 / proj4 +towgs84): dx,dy,dz in meters, rx,ry,rz in
    ARCSECONDS, ds in PPM. Validated against the EPSG Guidance Note 7-2
    worked example (WGS72 -> WGS84). The inverse is the exact 3x3 solve,
    not the sign-flipped approximation, so roundtrips close to float eps."""
    dx, dy, dz, rx, ry, rz, ds = params
    rx, ry, rz = (math.radians(v / 3600.0) for v in (rx, ry, rz))
    m = 1.0 + ds * 1e-6
    R = np.array(
        [[1.0, -rz, ry], [rz, 1.0, -rx], [-ry, rx, 1.0]], dtype=np.float64
    )
    P = np.stack(
        [np.asarray(X, np.float64), np.asarray(Y, np.float64), np.asarray(Z, np.float64)]
    )
    d = np.array([[dx], [dy], [dz]], dtype=np.float64)
    if not inverse:
        out = m * (R @ P) + d
    else:
        out = np.linalg.solve(R, (P - d) / m)
    return out[0], out[1], out[2]


def _datum_shift(lon, lat, params, a, rf, to_wgs84: bool):
    """Apply a +towgs84 shift to geographic coordinates (h=0 — 2D data
    carries no height, and h=0 moves horizontal position far less than the
    Helmert parameters' own meter-level accuracy). to_wgs84=True:
    (lon,lat) on the source ellipsoid (a, rf) -> WGS84; False: the exact
    inverse, WGS84 -> the target datum's ellipsoid."""
    b = a * (1.0 - 1.0 / rf) if math.isfinite(rf) else a
    if to_wgs84:
        X, Y, Z = _geodetic_to_ecef(lon, lat, 0.0, a, b)
        X, Y, Z = _helmert7(X, Y, Z, params)
        lo, la, _ = _ecef_to_geodetic(X, Y, Z, WGS84_A, WGS84_B)
        return lo, la
    X, Y, Z = _geodetic_to_ecef(lon, lat, 0.0, WGS84_A, WGS84_B)
    X, Y, Z = _helmert7(X, Y, Z, params, inverse=True)
    lo, la, _ = _ecef_to_geodetic(X, Y, Z, a, b)
    return lo, la


# proj4-style ellipsoid registry (a, 1/f) — the common subset; +a/+rf/+b
# override in the proj string for anything else
_ELLPS = {
    "WGS84": (WGS84_A, 1.0 / WGS84_F),
    "GRS80": (GRS80_A, GRS80_RF),
    "AIRY": (6377563.396, 299.3249646),
    "CLRK66": (6378206.4, 294.9786982),
    "CLRK80": (6378249.145, 293.465),
    "INTL": (6378388.0, 297.0),
    "BESSEL": (6377397.155, 299.1528128),
    "SPHERE": (6370997.0, float("inf")),
}


def _proj_to_internal(s: str) -> str:
    """Translate a proj4-style '+proj=...' string into the internal CRS code
    it is equivalent to. Supported projections: longlat, webmerc, utm,
    tmerc, lcc, aea. +towgs84 (3- or 7-parameter Helmert datum shift,
    position-vector convention) is honored on longlat/tmerc/lcc/aea via a
    '|TOWGS84:...|ELL:a,rf' suffix consumed by transform_points; +nadgrids
    (grid-file shifts) is rejected, not ignored — the grids aren't here."""
    kv: dict[str, str] = {}
    flags: set[str] = set()
    for tok in s.split():
        tok = tok.lstrip("+")
        if not tok:
            continue
        if "=" in tok:
            k, v = tok.split("=", 1)
            kv[k.lower()] = v
        else:
            flags.add(tok.lower())
    if "nadgrids" in kv:
        raise ValueError(
            f"proj parameter +nadgrids (grid-file datum shift) is not "
            f"supported — use a +towgs84 Helmert approximation: {s}"
        )
    proj = kv.get("proj", "").lower()

    def towgs84_suffix(a: float, rf: float) -> str:
        """Parse +towgs84 into the internal suffix, or '' if absent/null."""
        if "towgs84" not in kv:
            return ""
        vals = [float(v) for v in kv["towgs84"].split(",")]
        if len(vals) == 3:
            vals += [0.0, 0.0, 0.0, 0.0]
        if len(vals) != 7:
            raise ValueError(f"+towgs84 needs 3 or 7 values: {s}")
        if all(v == 0.0 for v in vals):
            return ""  # null shift == WGS84 datum
        return (
            "|TOWGS84:" + ",".join(repr(v) for v in vals) + f"|ELL:{a!r},{rf!r}"
        )

    def num(key: str, default: float = 0.0) -> float:
        return float(kv[key]) if key in kv else default

    def ellipsoid() -> tuple[float, float]:
        if "a" in kv:
            a = float(kv["a"])
            if "rf" in kv:
                return a, float(kv["rf"])
            if "b" in kv:
                b = float(kv["b"])
                return a, (float("inf") if b == a else a / (a - b))
            return a, float("inf")  # sphere
        name = kv.get("ellps", kv.get("datum", "WGS84")).upper()
        if name not in _ELLPS:
            raise ValueError(f"unknown ellipsoid '{name}' in proj string: {s}")
        return _ELLPS[name]

    if proj in ("longlat", "latlong", "lonlat"):
        # only resolve the ellipsoid when a datum shift actually needs it:
        # '+proj=longlat +ellps=<unregistered>' with no +towgs84 keeps
        # mapping to EPSG:4326 as before r8 (ADVICE r8)
        if "towgs84" not in kv:
            return "EPSG:4326"
        return "EPSG:4326" + towgs84_suffix(*ellipsoid())
    if proj == "webmerc":
        if "towgs84" in kv and any(float(v) for v in kv["towgs84"].split(",")):
            raise ValueError(f"+towgs84 on webmerc (WGS84-implied) rejected: {s}")
        return "EPSG:3857"
    if proj == "merc":
        # EPSG:3857 is the SPHERICAL mercator; accept only parameter sets
        # equivalent to it (ellipsoidal mercator would silently disagree)
        a, rf = ellipsoid()
        if kv.get("a") == kv.get("b") and "a" in kv and float(kv["a"]) == WGS84_A:
            if num("lat_ts") == 0.0 and num("k", num("k_0", 1.0)) == 1.0:
                if "towgs84" in kv and any(
                    float(v) for v in kv["towgs84"].split(",")
                ):
                    raise ValueError(f"+towgs84 on spherical mercator rejected: {s}")
                return "EPSG:3857"
        raise ValueError(
            f"only spherical web mercator is supported — use +proj=webmerc: {s}"
        )
    if proj == "utm":
        if "zone" not in kv:
            raise ValueError(f"+proj=utm needs +zone: {s}")
        if "towgs84" in kv and any(float(v) for v in kv["towgs84"].split(",")):
            raise ValueError(
                f"+towgs84 on utm (WGS84-only here) rejected — use "
                f"+proj=tmerc with the zone parameters: {s}"
            )
        a, rf = ellipsoid()  # validates +ellps; UTM here is WGS84-only
        if (a, rf) != _ELLPS["WGS84"]:
            raise ValueError(
                f"+proj=utm is supported on the WGS84 ellipsoid only "
                f"(use +proj=tmerc for other ellipsoids): {s}"
            )
        zone = int(kv["zone"])
        if not 1 <= zone <= 60:
            raise ValueError(f"UTM zone out of range: {s}")
        return f"EPSG:{327 if 'south' in flags else 326}{zone:02d}"
    if proj == "tmerc":
        a, rf = ellipsoid()
        if not math.isfinite(rf):
            raise ValueError(f"spherical tmerc is not supported (need +rf/+b): {s}")
        k0 = num("k", num("k_0", 1.0))
        return (
            f"TM:{k0!r},{num('lat_0')!r},{num('lon_0')!r},"
            f"{num('x_0')!r},{num('y_0')!r},{a!r},{rf!r}"
        ) + towgs84_suffix(a, rf)
    if proj in ("lcc", "aea"):
        a, rf = ellipsoid()
        if not math.isfinite(rf):
            raise ValueError(f"spherical {proj} is not supported (need +rf/+b): {s}")
        k0 = num("k", num("k_0", 1.0))
        if proj == "aea" and k0 != 1.0:
            raise ValueError(
                f"+proj=aea has no scale factor (EPSG 9822) — +k_0 rejected: {s}"
            )
        if proj == "lcc":
            if "lat_1" not in kv and "lat_0" in kv:
                kv["lat_1"] = kv["lat_0"]  # proj4 1SP: +lat_1 defaults to +lat_0
            if "lat_2" not in kv and "lat_1" in kv:
                kv["lat_2"] = kv["lat_1"]  # 1SP degenerate form (k0 honored)
        base = (
            f"{proj.upper()}:{num('lat_1')!r},{num('lat_2')!r},{num('lat_0')!r},"
            f"{num('lon_0')!r},{num('x_0')!r},{num('y_0')!r},{a!r},{rf!r}"
        )
        return base + (
            f",{k0!r}" if proj == "lcc" and k0 != 1.0 else ""
        ) + towgs84_suffix(a, rf)
    raise ValueError(f"unsupported +proj={proj or '<missing>'}: {s}")


def _split_datum(crs: str):
    """Split an internal CRS code into (base, helmert_params, (a, rf)) —
    the latter two None for WGS84-datum codes."""
    if "|TOWGS84:" not in crs:
        return crs, None, None
    base, rest = crs.split("|TOWGS84:", 1)
    pstr, estr = rest.split("|ELL:", 1)
    params = tuple(float(v) for v in pstr.split(","))
    a, rf = (float(v) for v in estr.split(","))
    return base, params, (a, rf)


def transform_points(lons, lats, from_crs: str, to_crs: str):
    """Transform coordinate arrays between supported CRS codes (EPSG codes,
    LCC:/AEA:/TM: parameterized strings, or proj4-style '+proj=...').
    Proj strings may carry +towgs84 (3/7-param Helmert, position-vector):
    the pipeline is inverse-project on the source datum -> Helmert to WGS84
    -> inverse Helmert to the target datum -> forward-project."""
    from_crs = from_crs.strip()
    to_crs = to_crs.strip()
    from_crs = (
        _proj_to_internal(from_crs) if from_crs.startswith("+") else from_crs.upper()
    )
    to_crs = _proj_to_internal(to_crs) if to_crs.startswith("+") else to_crs.upper()
    if from_crs == to_crs:
        return np.asarray(lons, dtype=np.float64), np.asarray(lats, dtype=np.float64)
    from_crs, from_shift, from_ell = _split_datum(from_crs)
    to_crs, to_shift, to_ell = _split_datum(to_crs)
    # normalize to EPSG:4326 lon/lat first
    if from_crs == "EPSG:4326":
        lon, lat = np.asarray(lons, dtype=np.float64), np.asarray(lats, dtype=np.float64)
    elif from_crs == "EPSG:3857":
        lon, lat = _web_mercator_inv(lons, lats)
    elif from_crs == "EPSG:27700":
        lon, lat = _osgb_inv(lons, lats)
    elif from_crs.startswith("EPSG:326") or from_crs.startswith("EPSG:327"):
        zone = int(from_crs[8:])
        lon, lat = _utm(zone, from_crs.startswith("EPSG:327"))[1](lons, lats)
    elif _conic(from_crs) is not None:
        lon, lat = _conic(from_crs)[1](lons, lats)
    else:
        raise ValueError(f"unsupported CRS {from_crs}")
    if from_shift is not None:
        lon, lat = _datum_shift(lon, lat, from_shift, *from_ell, to_wgs84=True)
    if to_shift is not None:
        lon, lat = _datum_shift(lon, lat, to_shift, *to_ell, to_wgs84=False)
    if to_crs == "EPSG:4326":
        return lon, lat
    if to_crs == "EPSG:3857":
        return _web_mercator_fwd(lon, lat)
    if to_crs == "EPSG:27700":
        return _osgb_fwd(lon, lat)
    if to_crs.startswith("EPSG:326") or to_crs.startswith("EPSG:327"):
        zone = int(to_crs[8:])
        return _utm(zone, to_crs.startswith("EPSG:327"))[0](lon, lat)
    conic = _conic(to_crs)
    if conic is not None:
        return conic[0](lon, lat)
    raise ValueError(f"unsupported CRS {to_crs}")
