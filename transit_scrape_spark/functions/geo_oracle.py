"""SQL mirror of the BNG -> WGS84 reprojection (geo.py ``_inverse_tm`` +
``_helmert_osgb36_to_wgs84``, shared by the point and route UDFs).

Generates a DuckDB CTE chain that replays the numpy algorithm step for
step — 8 unrolled iterations of the meridional-arc inversion, the OSGB36
projection series, the Helmert shift, and 6 unrolled iterations of the
cartesian->geodetic inversion. Both engines run IEEE double libm math;
the op rounds to 8 decimals (~1 mm) which absorbs any last-ulp trig
divergence, so even the 'not SQL-expressible' op is oracle-checkable.
"""

from __future__ import annotations

import math

# Airy 1830 + National Grid constants (public OS guide) — keep in sync
# with functions/geo.py _inverse_tm and _helmert_osgb36_to_wgs84
A_ = 6377563.396
B_ = 6356256.909
F0 = 0.9996012717
LAT0 = math.radians(49.0)
LON0 = math.radians(-2.0)
N0 = -100000.0
E0 = 400000.0
E2 = 1 - (B_ * B_) / (A_ * A_)
NN = (A_ - B_) / (A_ + B_)

# WGS84 + Helmert (OSGB36 -> WGS84)
A84 = 6378137.0
B84 = 6356752.3142
E2_84 = 1 - (B84 * B84) / (A84 * A84)
TX, TY, TZ = 446.448, -125.157, 542.060
RX = math.radians(0.1502 / 3600)
RY = math.radians(0.2470 / 3600)
RZ = math.radians(0.8421 / 3600)
S_ = -20.4894e-6


def _L(x: float) -> str:
    """SQL double literal — DuckDB parses bare decimal literals as
    DECIMAL and overflows on products; force DOUBLE."""
    return f"({x!r}::DOUBLE)"


def _m_expr(lat: str) -> str:
    """Meridional arc M(lat) as SQL."""
    d = f"(({lat}) - {_L(LAT0)})"
    s = f"(({lat}) + {_L(LAT0)})"
    c1 = 1 + NN + 1.25 * NN**2 + 1.25 * NN**3
    c2 = 3 * NN + 3 * NN**2 + 2.625 * NN**3
    c3 = 1.875 * NN**2 + 1.875 * NN**3
    c4 = (35 / 24) * NN**3
    return (
        f"({_L(B_)} * {_L(F0)} * ({_L(c1)} * {d}"
        f" - {_L(c2)} * sin({d}) * cos({s})"
        f" + {_L(c3)} * sin(2 * {d}) * cos(2 * {s})"
        f" - {_L(c4)} * sin(3 * {d}) * cos(3 * {s})))"
    )


def bng_to_wgs84_oracle_sql(src_sql: str, id_col: str = "n_nationkey") -> str:
    """DuckDB query: src_sql must yield (id_col, e, n); output
    (id_col, lon, lat) rounded to 8 decimals."""
    af0 = A_ * F0
    ctes = [f"src AS ({src_sql})",
            f"it0 AS (SELECT {id_col}, e, n, (n - {_L(N0)}) / {_L(af0)} + {_L(LAT0)} AS lat FROM src)"]
    for i in range(8):
        ctes.append(
            f"it{i + 1} AS (SELECT {id_col}, e, n, "
            f"lat + (n - {_L(N0)} - {_m_expr('lat')}) / {_L(af0)} AS lat FROM it{i})"
        )
    # projection series (nu/rho absorb F0, matching geo.py)
    ctes.append(f"""trig AS (
        SELECT {id_col}, e, n, lat,
               sin(lat) AS sl, cos(lat) AS cl, tan(lat) AS tl,
               {_L(A_)} * {_L(F0)} / sqrt(1 - {_L(E2)} * sin(lat) * sin(lat)) AS nu,
               {_L(A_)} * {_L(F0)} * (1 - {_L(E2)}) / pow(1 - {_L(E2)} * sin(lat) * sin(lat), 1.5) AS rho,
               e - {_L(E0)} AS de
        FROM it8)""")
    ctes.append(f"""osgb AS (
        SELECT {id_col},
               lat - (tl / (2 * rho * nu)) * de * de
                   + (tl / (24 * rho * nu * nu * nu)
                      * (5 + 3 * tl * tl + (nu / rho - 1) - 9 * tl * tl * (nu / rho - 1)))
                     * de * de * de * de
                   - (tl / (720 * rho * pow(nu, 5)) * (61 + 90 * tl * tl + 45 * pow(tl, 4)))
                     * pow(de, 6) AS lat_o,
               {_L(LON0)} + (1 / (cl * nu)) * de
                   - ((nu / rho + 2 * tl * tl) / (6 * cl * nu * nu * nu)) * de * de * de
                   + ((5 + 28 * tl * tl + 24 * pow(tl, 4)) / (120 * cl * pow(nu, 5))) * pow(de, 5)
                   - ((61 + 662 * tl * tl + 1320 * pow(tl, 4) + 720 * pow(tl, 6))
                      / (5040 * cl * pow(nu, 7))) * pow(de, 7) AS lon_o
        FROM trig)""")
    ctes.append(f"""cart AS (
        SELECT {id_col},
               ({_L(A_)} / sqrt(1 - {_L(E2)} * sin(lat_o) * sin(lat_o))) * cos(lat_o) * cos(lon_o) AS x,
               ({_L(A_)} / sqrt(1 - {_L(E2)} * sin(lat_o) * sin(lat_o))) * cos(lat_o) * sin(lon_o) AS y,
               (1 - {_L(E2)}) * ({_L(A_)} / sqrt(1 - {_L(E2)} * sin(lat_o) * sin(lat_o))) * sin(lat_o) AS z
        FROM osgb)""")
    ctes.append(f"""helm AS (
        SELECT {id_col},
               {_L(TX)} + (1 + {_L(S_)}) * x - {_L(RZ)} * y + {_L(RY)} * z AS x2,
               {_L(TY)} + {_L(RZ)} * x + (1 + {_L(S_)}) * y - {_L(RX)} * z AS y2,
               {_L(TZ)} - {_L(RY)} * x + {_L(RX)} * y + (1 + {_L(S_)}) * z AS z2
        FROM cart)""")
    ctes.append(f"""w0 AS (
        SELECT {id_col}, x2, y2, z2, sqrt(x2 * x2 + y2 * y2) AS p,
               atan2(z2, sqrt(x2 * x2 + y2 * y2) * (1 - {_L(E2_84)})) AS latw
        FROM helm)""")
    for i in range(6):
        ctes.append(
            f"w{i + 1} AS (SELECT {id_col}, x2, y2, z2, p, "
            f"atan2(z2 + {_L(E2_84)} * ({_L(A84)} / sqrt(1 - {_L(E2_84)} * sin(latw) * sin(latw))) * sin(latw), p) AS latw "
            f"FROM w{i})"
        )
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT {id_col}, round(degrees(atan2(y2, x2)), 8) AS lon, "
        f"round(degrees(latw), 8) AS lat FROM w6"
    )
