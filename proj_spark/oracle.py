"""DuckDB-oracle SQL generators.

For each transform kernel, emit ANSI-SQL that computes the SAME math
with the projection constants precomputed in Python and embedded as
literals (repr of the float64, so the literal parses back bit-exact).
The driver's correctness gate runs the Spark query and this SQL
side-by-side and hash-compares values — so every expression here must
be a faithful mirror of the numpy kernel, not an independent
derivation.

Iterative inverses (phi2, ECEF->geodetic) are unrolled a fixed number
of iterations; the iteration residual (<1e-12 m) is far below the
rounding applied to every oracle-checked output column.

DuckDB dialect notes (probed): no sinh/asinh/atanh (exp/ln forms used);
hex->int via ('0x'||h)::BIGINT; regexp_replace needs the 'g' flag.
"""

from __future__ import annotations

import math

import numpy as np

from . import kernels as K
from .crs import EPSG, US_FOOT, parse_proj_string

__all__ = [
    "lonlat_exprs",
    "sql_webmerc_fwd",
    "sql_merc_ell_fwd",
    "sql_lcc_fwd",
    "sql_cell",
    "sql_tile_x",
    "sql_tile_y",
    "sql_haversine",
    "sql_md5_long",
    "sql_norm_text",
    "sql_tokens",
    "sql_shingles",
]


def _f(v: float) -> str:
    """Bit-exact float literal."""
    return repr(float(v))


# ---------------------------------------------------------------------------
# helpers shared by several projections
# ---------------------------------------------------------------------------
def _sinh(x: str) -> str:
    return f"((exp({x}) - exp(-({x}))) / 2.0)"


def _cosh(x: str) -> str:
    return f"((exp({x}) + exp(-({x}))) / 2.0)"


def _asinh(x: str) -> str:
    return f"ln(({x}) + sqrt(({x})*({x}) + 1.0))"


def _atanh(x: str) -> str:
    return f"(0.5 * ln((1.0 + ({x})) / (1.0 - ({x}))))"


def _tsfn(phi: str, e: float) -> str:
    es = _f(e)
    return (
        f"(tan(0.5*({math.pi/2!r} - ({phi}))) / "
        f"pow((1.0 - {es}*sin({phi})) / (1.0 + {es}*sin({phi})), 0.5*{es}))"
    )


def _qsfn(sinphi: str, e: float, one_es: float) -> str:
    es = _f(e)
    return (
        f"({_f(one_es)} * (({sinphi}) / (1.0 - {es}*{es}*({sinphi})*({sinphi}))"
        f" - (0.5/{es}) * ln((1.0 - {es}*({sinphi})) / (1.0 + {es}*({sinphi})))))"
    )


# ---------------------------------------------------------------------------
# derived lon/lat expressions (shared convention between Spark + SQL:
# both sides compute the SAME arithmetic on the same integer key)
# ---------------------------------------------------------------------------
def lonlat_exprs(key: str, kind: str = "world") -> tuple[str, str]:
    """Deterministic lon/lat from an integer key column — the geo
    columns FIXTURES.md §1.4 prescribes for the TPC-H tables."""
    if kind == "world":
        return (
            f"(({key}) % 3600) / 10.0 - 180.0 + 0.05",
            f"(({key}) % 1700) / 10.0 - 85.0 + 0.05",
        )
    if kind == "california":
        return (
            f"-118.0 + (({key}) % 400) / 100.0",
            f"32.6 + (({key}) % 170) / 100.0",
        )
    if kind == "utm11":
        return (
            f"-120.0 + (({key}) % 600) / 100.0",
            f"0.5 + (({key}) % 830) / 10.0",
        )
    if kind == "romania":
        return (
            f"21.0 + (({key}) % 900) / 100.0",
            f"44.0 + (({key}) % 400) / 100.0",
        )
    if kind == "customer":
        return (
            f"(({key}) % 720) / 2.0 - 180.0 + 0.25",
            f"(({key}) % 340) / 2.0 - 85.0 + 0.25",
        )
    if kind == "czech":
        return (
            f"12.2 + (({key}) % 1030) / 100.0",
            f"47.8 + (({key}) % 320) / 100.0",
        )
    if kind == "borneo":
        return (
            f"110.0 + (({key}) % 900) / 100.0",
            f"1.0 + (({key}) % 600) / 100.0",
        )
    if kind == "arctic":
        return (
            f"(({key}) % 3600) / 10.0 - 180.0 + 0.05",
            f"61.0 + (({key}) % 280) / 10.0 + 0.05",
        )
    if kind == "antarctic":
        return (
            f"(({key}) % 3600) / 10.0 - 180.0 + 0.05",
            f"-89.5 + (({key}) % 280) / 10.0 + 0.05",
        )
    if kind == "nz":
        return (
            f"166.5 + (({key}) % 1150) / 100.0",
            f"-46.5 + (({key}) % 1200) / 100.0",
        )
    raise ValueError(kind)


# ---------------------------------------------------------------------------
# projections (forward): lon/lat degree expressions -> x/y meter exprs
# ---------------------------------------------------------------------------
def sql_webmerc_fwd(lon: str, lat: str) -> tuple[str, str]:
    a = 6378137.0
    x = f"({_f(a)} * radians({lon}))"
    y = f"({_f(a)} * ln(tan({math.pi/4!r} + radians({lat})/2.0)))"
    return x, y


def sql_merc_ell_fwd(lon: str, lat: str, lat_ts: float = 56.5,
                     ellps: str = "GRS80") -> tuple[str, str]:
    a, es = K.ellipsoid({"ellps": ellps})
    P = K.merc_setup({"lat_ts": lat_ts, "ellps": ellps}, a, es)
    e, k0 = P["e"], P["k0"]
    phi = f"radians({lat})"
    x = f"({_f(a * k0)} * radians({lon}))"
    y = f"(-{_f(a * k0)} * ln({_tsfn(phi, e)}))"
    return x, y


def _lcc_P(code: str):
    params = parse_proj_string(EPSG[code].proj)[0]
    a, es = K.ellipsoid(params)
    P = K.lcc_setup(params, a, es)
    x0 = float(params.get("x_0", 0.0))
    y0 = float(params.get("y_0", 0.0))
    to_m = US_FOOT if params.get("units") == "us-ft" else 1.0
    lon0 = float(params["lon_0"])
    return P, a, x0, y0, to_m, lon0


def sql_lcc_fwd(lon: str, lat: str, code: str = "EPSG:2230") -> tuple[str, str]:
    P, a, x0, y0, to_m, lon0 = _lcc_P(code)
    n, c, rho0, e = P["n"], P["c"], P["rho0"], P["e"]
    phi = f"radians({lat})"
    lam = f"radians(({lon}) - {_f(lon0)})"
    rho = f"({_f(c)} * pow({_tsfn(phi, e)}, {_f(n)}))"
    xn = f"({rho} * sin({_f(n)} * {lam}))"
    yn = f"({_f(rho0)} - {rho} * cos({_f(n)} * {lam}))"
    x = f"(({_f(a)} * {xn} + {_f(x0)}) / {_f(to_m)})"
    y = f"(({_f(a)} * {yn} + {_f(y0)}) / {_f(to_m)})"
    return x, y


# ---------------------------------------------------------------------------
# CTE chain builder — iterative inverses and long forwards emit one CTE
# per step so each intermediate is evaluated ONCE (a naive textual
# unroll duplicates the whole prior expression per iteration and the
# expression tree grows exponentially).
# ---------------------------------------------------------------------------
class Chain:
    def __init__(self, base_sql: str):
        self.ctes: list[tuple[str, str]] = [("s0", base_sql)]
        self.i = 0

    def add(self, cols: dict[str, str]) -> None:
        prev = self.ctes[-1][0]
        self.i += 1
        collist = ", ".join(f"{expr} AS {name}" for name, expr in cols.items())
        self.ctes.append((f"s{self.i}", f"SELECT *, {collist} FROM {prev}"))

    def finish(self, select_list: str, tail: str = "") -> str:
        w = ",\n".join(f"{n} AS ({q})" for n, q in self.ctes)
        return f"WITH {w}\nSELECT {select_list} FROM {self.ctes[-1][0]} {tail}"


def chain_lcc_inv(ch: Chain, x: str, y: str, code: str,
                  out: tuple[str, str] = ("inv_lon", "inv_lat"),
                  iters: int = 8) -> tuple[str, str]:
    """Append inverse-LCC steps; returns (lon_deg, lat_deg) column names."""
    P, a, x0, y0, to_m, lon0 = _lcc_P(code)
    n, c, rho0, e = P["n"], P["c"], P["rho0"], P["e"]
    tag = f"{out[0]}_{ch.i}"
    ch.add({
        f"xn_{tag}": f"((({x}) * {_f(to_m)} - {_f(x0)}) / {_f(a)})",
        f"yn_{tag}": f"({_f(rho0)} - (({y}) * {_f(to_m)} - {_f(y0)}) / {_f(a)})",
    })
    ch.add({
        f"ts_{tag}": (
            f"pow(sqrt(xn_{tag}*xn_{tag} + yn_{tag}*yn_{tag}) / {_f(c)}, "
            f"{_f(1.0 / n)})"
        ),
        f"lam_{tag}": f"(atan2(xn_{tag}, yn_{tag}) / {_f(n)})",
    })
    phi = f"({math.pi/2!r} - 2.0*atan(ts_{tag}))"
    for k in range(iters):
        col = f"phi_{tag}_{k}"
        con = f"({_f(e)} * sin({phi}))"
        ch.add({col: (
            f"({math.pi/2!r} - 2.0*atan(ts_{tag} * "
            f"pow((1.0 - {con})/(1.0 + {con}), {_f(0.5 * e)})))"
        )})
        phi = col
    ch.add({out[0]: f"(degrees(lam_{tag}) + {_f(lon0)})",
            out[1]: f"degrees({phi})"})
    return out


def chain_datum_shift(ch: Chain, lon: str, lat: str, src_ellps: str,
                      dst_ellps: str, dst_towgs84=None, src_towgs84=None,
                      out: tuple[str, str] = ("ds_lam", "ds_phi"),
                      iters: int = 8) -> tuple[str, str]:
    """Append geodetic(src, deg) -> geodetic(dst, RAD) steps through
    ECEF + optional Helmert; returns (lam_rad, phi_rad) column names."""
    sa, ses = K.ellipsoid({"ellps": src_ellps})
    da, des = K.ellipsoid({"ellps": dst_ellps})
    tag = f"{out[0]}_{ch.i}"
    ch.add({f"sphi_{tag}": f"radians({lat})", f"slam_{tag}": f"radians({lon})"})
    ch.add({f"N_{tag}": (
        f"({_f(sa)} / sqrt(1.0 - {_f(ses)}*sin(sphi_{tag})*sin(sphi_{tag})))"
    )})
    ch.add({
        f"X_{tag}": f"(N_{tag} * cos(sphi_{tag}) * cos(slam_{tag}))",
        f"Y_{tag}": f"(N_{tag} * cos(sphi_{tag}) * sin(slam_{tag}))",
        f"Z_{tag}": f"(N_{tag} * {_f(1.0 - ses)} * sin(sphi_{tag}))",
    })
    X, Y, Z = f"X_{tag}", f"Y_{tag}", f"Z_{tag}"
    if src_towgs84 is not None and any(src_towgs84):
        H = K.helmert_params(src_towgs84)
        R = K._pv_rot_matrix(H)
        s = H["s"]
        ch.add({
            f"Xf_{tag}": f"({_f(H['tx'])} + {_f(s)}*({_f(R[0,0])}*{X} + {_f(R[0,1])}*{Y} + {_f(R[0,2])}*{Z}))",
            f"Yf_{tag}": f"({_f(H['ty'])} + {_f(s)}*({_f(R[1,0])}*{X} + {_f(R[1,1])}*{Y} + {_f(R[1,2])}*{Z}))",
            f"Zf_{tag}": f"({_f(H['tz'])} + {_f(s)}*({_f(R[2,0])}*{X} + {_f(R[2,1])}*{Y} + {_f(R[2,2])}*{Z}))",
        })
        X, Y, Z = f"Xf_{tag}", f"Yf_{tag}", f"Zf_{tag}"
    if dst_towgs84 is not None and any(dst_towgs84):
        H = K.helmert_params(dst_towgs84)
        R = K._pv_rot_matrix(H)
        s = H["s"]
        ch.add({
            f"Xs_{tag}": f"(({X} - {_f(H['tx'])}) / {_f(s)})",
            f"Ys_{tag}": f"(({Y} - {_f(H['ty'])}) / {_f(s)})",
            f"Zs_{tag}": f"(({Z} - {_f(H['tz'])}) / {_f(s)})",
        })
        ch.add({
            f"Xi_{tag}": f"({_f(R[0,0])}*Xs_{tag} + {_f(R[1,0])}*Ys_{tag} + {_f(R[2,0])}*Zs_{tag})",
            f"Yi_{tag}": f"({_f(R[0,1])}*Xs_{tag} + {_f(R[1,1])}*Ys_{tag} + {_f(R[2,1])}*Zs_{tag})",
            f"Zi_{tag}": f"({_f(R[0,2])}*Xs_{tag} + {_f(R[1,2])}*Ys_{tag} + {_f(R[2,2])}*Zs_{tag})",
        })
        X, Y, Z = f"Xi_{tag}", f"Yi_{tag}", f"Zi_{tag}"
    ch.add({f"p_{tag}": f"sqrt({X}*{X} + {Y}*{Y})",
            f"lam2_{tag}": f"atan2({Y}, {X})"})
    phi = f"atan2({Z}, p_{tag} * {_f(1.0 - des)})"
    for k in range(iters):
        col = f"cphi_{tag}_{k}"
        Nd = f"({_f(da)} / sqrt(1.0 - {_f(des)}*sin({phi})*sin({phi})))"
        ch.add({col: f"atan2({Z} + {_f(des)}*{Nd}*sin({phi}), p_{tag})"})
        phi = col
    ch.add({out[0]: f"lam2_{tag}", out[1]: phi})
    return out


def chain_lcc_fwd(ch: Chain, lon: str, lat: str, code: str,
                  out: tuple[str, str] = ("fx", "fy")) -> tuple[str, str]:
    x, y = sql_lcc_fwd(lon, lat, code)
    ch.add({out[0]: x, out[1]: y})
    return out


def chain_tmerc_fwd(ch: Chain, lon: str, lat: str, code: str,
                    out: tuple[str, str] = ("fx", "fy")) -> tuple[str, str]:
    params = parse_proj_string(EPSG[code].proj)[0]
    if params["proj"] == "utm":
        zone = int(params["zone"])
        params = dict(params)
        params.update({"lon_0": -183.0 + 6 * zone, "k": 0.9996,
                       "x_0": 500000.0, "y_0": 0.0})
    a, es = K.ellipsoid(params)
    P = K.tmerc_setup(params, a, es)
    e = P["e"]
    lon0 = float(params.get("lon_0", 0.0))
    x0 = float(params.get("x_0", 0.0))
    y0 = float(params.get("y_0", 0.0))
    scale = P["k0"] * P["A"]
    tag = f"{out[0]}_{ch.i}"
    ch.add({f"tphi_{tag}": f"radians({lat})",
            f"tlam_{tag}": f"radians(({lon}) - {_f(lon0)})"})
    ch.add({f"tau_{tag}": f"tan(tphi_{tag})"})
    inner = f"({_f(e)} * tau_{tag} / sqrt(1.0 + tau_{tag}*tau_{tag}))"
    ch.add({f"sig_{tag}": _sinh(f"{_f(e)} * {_atanh(inner)}")})
    ch.add({f"taup_{tag}": (
        f"(tau_{tag} * sqrt(1.0 + sig_{tag}*sig_{tag})"
        f" - sig_{tag} * sqrt(1.0 + tau_{tag}*tau_{tag}))"
    )})
    ch.add({
        f"xip_{tag}": f"atan2(taup_{tag}, cos(tlam_{tag}))",
        f"etap_{tag}": _asinh(
            f"sin(tlam_{tag}) / sqrt(taup_{tag}*taup_{tag}"
            f" + cos(tlam_{tag})*cos(tlam_{tag}))"
        ),
    })
    xi_terms = [f"xip_{tag}"]
    eta_terms = [f"etap_{tag}"]
    for j in range(1, 7):
        aj = _f(P["alpha"][j - 1])
        xi_terms.append(
            f"{aj}*sin({2*j}.0*xip_{tag})*{_cosh(f'{2*j}.0*etap_{tag}')}")
        eta_terms.append(
            f"{aj}*cos({2*j}.0*xip_{tag})*{_sinh(f'{2*j}.0*etap_{tag}')}")
    ch.add({
        out[0]: f"({_f(a)} * ({_f(scale)} * ({' + '.join(eta_terms)})) + {_f(x0)})",
        out[1]: (
            f"({_f(a)} * ({_f(scale)} * ({' + '.join(xi_terms)})"
            f" - {_f(P['y_origin'])}) + {_f(y0)})"
        ),
    })
    return out


def chain_sterea_fwd(ch: Chain, lon: str, lat: str, code: str = "EPSG:3844",
                     out: tuple[str, str] = ("fx", "fy")) -> tuple[str, str]:
    entry = EPSG[code]
    params = parse_proj_string(entry.proj)[0]
    a, es = K.ellipsoid(params)
    P = K.sterea_setup(params, a, es)
    lon0 = float(params["lon_0"])
    x0 = float(params.get("x_0", 0.0))
    y0 = float(params.get("y_0", 0.0))
    lam_c, phi_c = chain_datum_shift(
        ch, lon, lat, "WGS84", entry.datum_ellps, dst_towgs84=entry.towgs84,
        out=(f"slam_{out[0]}", f"sphi_{out[0]}"))
    tag = f"{out[0]}_{ch.i}"
    e, C, Kg, ratexp = P["e"], P["C"], P["K"], P["ratexp"]
    ch.add({f"glam_{tag}": f"({_f(C)} * ({lam_c} - {_f(math.radians(lon0))}))"})
    srat = (f"pow((1.0 - {_f(e)}*sin({phi_c})) / (1.0 + {_f(e)}*sin({phi_c})), "
            f"{_f(ratexp)})")
    ch.add({f"chi_{tag}": (
        f"(2.0*atan({_f(Kg)} * pow(tan(0.5*{phi_c} + {math.pi/4!r}), {_f(C)})"
        f" * {srat}) - {math.pi/2!r})"
    )})
    ch.add({f"kk_{tag}": (
        f"({_f(P['k0'] * 2.0 * P['R'])} / (1.0 + {_f(P['sinc0'])}*sin(chi_{tag})"
        f" + {_f(P['cosc0'])}*cos(chi_{tag})*cos(glam_{tag})))"
    )})
    ch.add({
        out[0]: f"({_f(a)} * (kk_{tag} * cos(chi_{tag}) * sin(glam_{tag})) + {_f(x0)})",
        out[1]: (
            f"({_f(a)} * (kk_{tag} * ({_f(P['cosc0'])}*sin(chi_{tag})"
            f" - {_f(P['sinc0'])}*cos(chi_{tag})*cos(glam_{tag}))) + {_f(y0)})"
        ),
    })
    return out


def chain_aea_fwd(ch: Chain, lon: str, lat: str, code: str = "EPSG:3309",
                  out: tuple[str, str] = ("fx", "fy")) -> tuple[str, str]:
    entry = EPSG[code]
    params = parse_proj_string(entry.proj)[0]
    a, es = K.ellipsoid(params)
    P = K.aea_setup(params, a, es)
    lon0 = float(params["lon_0"])
    x0 = float(params.get("x_0", 0.0))
    y0 = float(params.get("y_0", 0.0))
    lam_c, phi_c = chain_datum_shift(
        ch, lon, lat, "WGS84", entry.datum_ellps, dst_towgs84=entry.towgs84,
        out=(f"alam_{out[0]}", f"aphi_{out[0]}"))
    tag = f"{out[0]}_{ch.i}"
    q = _qsfn(f"sin({phi_c})", P["e"], P["one_es"])
    ch.add({
        f"rho_{tag}": f"({_f(P['dd'])} * sqrt({_f(P['c'])} - {_f(P['n'])} * {q}))",
        f"th_{tag}": f"({_f(P['n'])} * ({lam_c} - {_f(math.radians(lon0))}))",
    })
    ch.add({
        out[0]: f"({_f(a)} * (rho_{tag} * sin(th_{tag})) + {_f(x0)})",
        out[1]: f"({_f(a)} * ({_f(P['rho0'])} - rho_{tag} * cos(th_{tag})) + {_f(y0)})",
    })
    return out


def chain_eqearth_fwd(ch: Chain, lon: str, lat: str, code: str = "EPSG:8857",
                      out: tuple[str, str] = ("fx", "fy")) -> tuple[str, str]:
    params = parse_proj_string(EPSG[code].proj)[0]
    a, es = K.ellipsoid(params)
    P = K.eqearth_setup(params, a, es)
    lon0 = float(params.get("lon_0", 0.0))
    tag = f"{out[0]}_{ch.i}"
    ch.add({f"ephi_{tag}": f"radians({lat})",
            f"elam_{tag}": f"radians(({lon}) - {_f(lon0)})"})
    q = _qsfn(f"sin(ephi_{tag})", P["e"], P["one_es"])
    ch.add({f"beta_{tag}": f"asin(least(1.0, greatest(-1.0, {q} / {_f(P['qp'])})))"})
    M = _EQE_CONSTS = K._EQE_M
    ch.add({f"theta_{tag}": (
        f"asin(least(1.0, greatest(-1.0, {_f(M)} * sin(beta_{tag}))))"
    )})
    A1, A2, A3, A4 = K._EQE_A1, K._EQE_A2, K._EQE_A3, K._EQE_A4
    ch.add({f"t2_{tag}": f"(theta_{tag}*theta_{tag})"})
    ch.add({f"t6_{tag}": f"(t2_{tag}*t2_{tag}*t2_{tag})"})
    dy = (f"({_f(A1)} + {_f(3*A2)}*t2_{tag} + t6_{tag}*({_f(7*A3)}"
          f" + {_f(9*A4)}*t2_{tag}))")
    ypoly = (f"(theta_{tag} * ({_f(A1)} + {_f(A2)}*t2_{tag}"
             f" + t6_{tag}*({_f(A3)} + {_f(A4)}*t2_{tag})))")
    ch.add({
        out[0]: (f"({_f(a * P['rqda'])} * elam_{tag} * cos(theta_{tag})"
                 f" / ({_f(M)} * {dy}))"),
        out[1]: f"({_f(a * P['rqda'])} * {ypoly})",
    })
    return out


# ---------------------------------------------------------------------------
# cells / tiles / distance
# ---------------------------------------------------------------------------
def sql_cell(lon: str, lat: str, level: int) -> str:
    """Morton cell id — bit-identical to cells.np_cell/cell_col."""
    n = 1 << level
    ix = (f"least({n - 1}, greatest(0, "
          f"floor((({lon}) + 180.0) / 360.0 * {n}.0)))::BIGINT")
    iy = (f"least({n - 1}, greatest(0, "
          f"floor((({lat}) + 90.0) / 180.0 * {n}.0)))::BIGINT")
    spread = (
        "list_sum(list_transform(range(0, {lvl}), "
        "i -> ((({v} >> i) & 1) << (2*i))))"
    )
    sx = spread.format(v=ix, lvl=level if level > 0 else 1)
    sy = spread.format(v=iy, lvl=level if level > 0 else 1)
    if level == 0:
        return f"({level})::BIGINT"
    return (f"((((({sx})::BIGINT) | ((({sy})::BIGINT) << 1)) << 5)"
            f" | {level})::BIGINT")


def sql_geohash(lon: str, lat: str, precision: int = 8) -> str:
    """Base-32 geohash — bit-identical to operators.geohash.geohash_col."""
    bits = 5 * precision
    n_lon = (bits + 1) // 2
    n_lat = bits // 2
    nx, ny = 1 << n_lon, 1 << n_lat
    ix = (f"least({nx - 1}, greatest(0, "
          f"floor((({lon}) + 180.0) / 360.0 * {nx}.0)))::BIGINT")
    iy = (f"least({ny - 1}, greatest(0, "
          f"floor((({lat}) + 90.0) / 180.0 * {ny}.0)))::BIGINT")
    spread = ("list_sum(list_transform(range(0, {n}), "
              "i -> ((({v} >> i) & 1) << (2*i))))")
    sx = spread.format(v=ix, n=n_lon)
    sy = spread.format(v=iy, n=n_lat)
    if bits % 2 == 0:
        v = f"(({sy}) | (({sx}) << 1))"
    else:
        v = f"(({sx}) | (({sy}) << 1))"
    parts = [
        f"substr('0123456789bcdefghjkmnpqrstuvwxyz', "
        f"((({v}) >> {5 * (precision - 1 - i)}) & 31)::INT + 1, 1)"
        for i in range(precision)
    ]
    return "(" + " || ".join(parts) + ")"


def sql_tile_x(lon: str, zoom: int) -> str:
    n = 1 << zoom
    return (f"least({n - 1}, greatest(0, "
            f"floor((({lon}) + 180.0) / 360.0 * {float(n)!r})))::INT")


def sql_tile_y(lat: str, zoom: int) -> str:
    from .operators.tiles import MAX_MERC_LAT

    n = 1 << zoom
    cl = f"greatest({_f(-MAX_MERC_LAT)}, least({_f(MAX_MERC_LAT)}, ({lat})))"
    merc = f"ln(tan({math.pi/4!r} + radians({cl}) / 2.0))"
    return (f"least({n - 1}, greatest(0, "
            f"floor((1.0 - {merc} / {math.pi!r}) / 2.0 * {float(n)!r})))::INT")


def sql_haversine(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    R = 6371008.8
    p1, p2 = f"radians({lat1})", f"radians({lat2})"
    dphi = f"(({p2} - {p1}) / 2.0)"
    dlam = f"((radians({lon2}) - radians({lon1})) / 2.0)"
    h = (f"(sin({dphi})*sin({dphi}) + cos({p1})*cos({p2})"
         f"*sin({dlam})*sin({dlam}))")
    return f"(2.0 * {_f(R)} * asin(least(1.0, sqrt({h}))))"


# ---------------------------------------------------------------------------
# text primitives (dialect pair: Spark side in operators/textops.py)
# ---------------------------------------------------------------------------
def sql_md5_long(s: str) -> str:
    return f"(('0x' || substr(md5({s}), 1, 15))::BIGINT)"


def sql_norm_text(text: str) -> str:
    return f"trim(regexp_replace(lower({text}), '\\s+', ' ', 'g'))"


def sql_tokens(text: str) -> str:
    return f"string_split({sql_norm_text(text)}, ' ')"


def sql_shingles(text: str, k: int = 3, unit: str = "word") -> str:
    if unit == "char":
        norm = sql_norm_text(text)
        return (
            f"list_transform(range(1, greatest(length({norm}) - {k - 1}, 0)"
            f" + 1), i -> substr({norm}, i, {k}))"
        )
    toks = sql_tokens(text)
    return (
        f"list_transform(range(1, greatest(len({toks}) - {k - 1}, 0) + 1), "
        f"i -> array_to_string(({toks})[i:i+{k - 1}], ' '))"
    )


def sql_stere_polar_fwd(lon: str, lat: str,
                        code: str = "EPSG:3031") -> tuple[str, str]:
    """Polar Stereographic forward (dialect pair: kernels.stere_fwd,
    polar modes).  The forward uses only sin/cos of the offset
    longitude, so the kernel's adjlon wrap is a no-op here."""
    from . import kernels as K
    from .crs import parse_proj_string, resolve_crs

    entry = resolve_crs(code)
    p = parse_proj_string(entry.proj)[0]
    a, es = K.ellipsoid(p)
    P = K.stere_setup(p, a, es)
    if P["mode"] not in ("n_pole", "s_pole"):
        raise ValueError(f"{code} is not a polar stereographic CRS")
    e = P["e"]
    lam0 = math.radians(float(p.get("lon_0", 0.0)))
    x0 = float(p.get("x_0", 0.0))
    y0 = float(p.get("y_0", 0.0))
    lam = f"(radians({lon}) - {_f(lam0)})"
    if P["mode"] == "n_pole":
        ts = _tsfn(f"radians({lat})", e)
        sign = "-"
    else:
        ts = _tsfn(f"(-radians({lat}))", e)
        sign = ""
    r = f"({_f(a * P['akm1'])} * {ts})"
    x = f"({r} * sin({lam}) + {_f(x0)})"
    y = f"({sign}{r} * cos({lam}) + {_f(y0)})"
    return x, y


def chain_krovak_fwd(ch: Chain, lon: str, lat: str,
                     code: str = "EPSG:5514") -> tuple[str, str]:
    """4326 -> Krovak East North: WGS84 -> S-JTSK (Bessel) Helmert
    shift, gauss conformal latitude, rotation to the oblique pole,
    conformal cone on the pseudo standard parallel (dialect pair:
    kernels.krovak_fwd).  Chain-CTE form — the nested U/T/D terms
    would blow up combinatorially as textual substitution."""
    from . import kernels as K
    from .crs import EPSG, parse_proj_string

    entry = EPSG[code]
    params = parse_proj_string(entry.proj)[0]
    a, es = K.ellipsoid(params)
    P = K.krovak_setup(params, a, es)
    lon0 = float(params["lon_0"])
    x0 = float(params.get("x_0", 0.0))
    y0 = float(params.get("y_0", 0.0))
    lam_c, phi_c = chain_datum_shift(
        ch, lon, lat, "WGS84", entry.datum_ellps, dst_towgs84=entry.towgs84,
        out=("kvlam", "kvphi"))
    e, B, t0, n = P["e"], P["B"], P["t0"], P["n"]
    sa, ca = math.sin(P["alpha_c"]), math.cos(P["alpha_c"])
    tag = f"kv_{ch.i}"
    ch.add({f"esp_{tag}": f"({_f(e)} * sin({phi_c}))"})
    ch.add({f"base_{tag}": (
        f"(tan({math.pi/4!r} + 0.5*({phi_c}))"
        f" * pow((1.0 - esp_{tag}) / (1.0 + esp_{tag}), {_f(0.5 * e)}))")})
    ch.add({
        f"u_{tag}": (
            f"(2.0*(atan({_f(t0)} * pow(base_{tag}, {_f(B)}))"
            f" - {math.pi/4!r}))"),
        f"v_{tag}": f"(-({_f(B)} * ({lam_c} - {_f(math.radians(lon0))})))",
    })
    ch.add({f"t_{tag}": (
        f"asin({_f(ca)}*sin(u_{tag}) + {_f(sa)}*cos(u_{tag})*cos(v_{tag}))")})
    ch.add({f"d_{tag}": f"asin(cos(u_{tag})*sin(v_{tag}) / cos(t_{tag}))"})
    ch.add({
        f"th_{tag}": f"({_f(n)} * d_{tag})",
        f"r_{tag}": (
            f"({_f(P['r0'] * P['tan_ps'] ** n)}"
            f" / pow(tan({math.pi/4!r} + 0.5*t_{tag}), {_f(n)}))"),
    })
    x = f"({_f(a)} * (-(r_{tag} * sin(th_{tag}))) + {_f(x0)})"
    y = f"({_f(a)} * (-(r_{tag} * cos(th_{tag}))) + {_f(y0)})"
    return x, y


def sql_robin_fwd(lon: str, lat: str,
                  code: str = "ESRI:54030") -> tuple[str, str]:
    """Robinson forward: the SAME per-segment natural-cubic-spline
    coefficients the kernel derives from the published 5-degree table
    (kernels.robin_setup), embedded as literals in an 18-branch CASE
    (dialect pair: kernels.robin_fwd)."""
    from . import kernels as K

    P = K.robin_setup({}, 6378137.0, 0.0)
    a = 6378137.0
    absd = f"least(abs({lat}), 90.0)"

    def case(coeffs) -> str:
        ca, cb, cc, cd = coeffs
        branches = []
        for i in range(18):
            z = f"(({absd}) - {_f(i * 5.0)})"
            poly = (f"((({_f(cd[i])}*{z} + {_f(cc[i])})*{z}"
                    f" + {_f(cb[i])})*{z} + {_f(ca[i])})")
            kw = "WHEN" if i < 17 else "ELSE"
            cond = f" ({absd}) < {_f((i + 1) * 5.0)} THEN" if i < 17 else ""
            branches.append(f"{kw}{cond} {poly}")
        return "(CASE " + " ".join(branches) + " END)"

    plen = case(P["px"])
    pdfe = case(P["py"])
    x = f"({_f(K._ROBIN_FXC * a)} * {plen} * radians({lon}))"
    y = f"({_f(K._ROBIN_FYC * a)} * {pdfe} * sign({lat}))"
    return x, y


def chain_omerc_fwd(ch: Chain, lon: str, lat: str,
                    code: str = "EPSG:29873") -> tuple[str, str]:
    """4326 -> Hotine Oblique Mercator (EPSG 9812/9815 incl. the Swiss
    somerc spelling): Helmert shift to the local datum, then the EPSG
    GN 7-2 forward chain — t, Q, S, T, V, U, v, u and the rectified-
    grid rotation — with the setup constants embedded as float64
    literals (dialect pair: kernels.omerc_fwd)."""
    from . import kernels as K
    from .crs import EPSG, parse_proj_string

    entry = EPSG[code]
    params = parse_proj_string(entry.proj)[0]
    a, es = K.ellipsoid(params)
    setup = K.somerc_setup if params["proj"] == "somerc" else K.omerc_setup
    P = setup(params, a, es)
    x0 = float(params.get("x_0", 0.0))
    y0 = float(params.get("y_0", 0.0))
    lam_c, phi_c = chain_datum_shift(
        ch, lon, lat, "WGS84", entry.datum_ellps, dst_towgs84=entry.towgs84,
        out=("omlam", "omphi"))
    # the kernel sees wrapper-reduced lam (lon_0 subtracted); the chain
    # works in absolute radians, so fold lon_0 back into lambda_0
    lam0_abs = P["dlam0"] + math.radians(float(params.get("lon_0", 0.0)))
    e, B, A, H = P["e"], P["B"], P["A"], P["H"]
    tag = f"om_{ch.i}"
    ch.add({f"esp_{tag}": f"({_f(e)} * sin({phi_c}))"})
    ch.add({f"t_{tag}": (
        f"(tan({math.pi/4!r} - 0.5*({phi_c}))"
        f" / pow((1.0 - esp_{tag})/(1.0 + esp_{tag}), {_f(0.5 * e)}))")})
    ch.add({f"q_{tag}": f"({_f(H)} / pow(t_{tag}, {_f(B)}))"})
    ch.add({
        f"s_{tag}": f"(0.5*(q_{tag} - 1.0/q_{tag}))",
        f"tt_{tag}": f"(0.5*(q_{tag} + 1.0/q_{tag}))",
        f"bl_{tag}": f"({_f(B)} * (({lam_c}) - {_f(lam0_abs)}))",
    })
    ch.add({f"v_{tag}": f"sin(bl_{tag})"})
    ch.add({f"u_{tag}": (
        f"((-v_{tag}*{_f(P['cg0'])} + s_{tag}*{_f(P['sg0'])}) / tt_{tag})")})
    ch.add({
        f"vv_{tag}": (
            f"({_f(A)} * ln((1.0 - u_{tag})/(1.0 + u_{tag}))"
            f" / {_f(2.0 * B)})"),
        f"uu_{tag}": (
            f"({_f(A)} * atan2(s_{tag}*{_f(P['cg0'])}"
            f" + v_{tag}*{_f(P['sg0'])}, cos(bl_{tag})) / {_f(B)}"
            f" - {_f(P['uc'])})"),
    })
    x = f"({_f(a)} * (vv_{tag}*{_f(P['cg'])} + uu_{tag}*{_f(P['sg'])}) + {_f(x0)})"
    y = f"({_f(a)} * (uu_{tag}*{_f(P['cg'])} - vv_{tag}*{_f(P['sg'])}) + {_f(y0)})"
    return x, y


def chain_vincenty_inverse(ch: Chain, lon1: str, lat1: str,
                           lon2: str, lat2: str,
                           a: float = 6378137.0,
                           f: float = 1.0 / 298.257223563,
                           iters: int = 12) -> str:
    """Vincenty inverse distance, unrolled to the SAME fixed iteration
    count as kernels-side ``operators.geodesic.vincenty_inverse`` —
    step-for-step CTE mirror; returns the meters column name."""
    s_col, _az = chain_vincenty_inverse_rad(
        ch, f"radians(({lon2}) - ({lon1}))",
        f"radians({lat1})", f"radians({lat2})", a=a, f=f, iters=iters)
    return s_col


def chain_vincenty_inverse_rad(ch: Chain, Lr: str, phi1: str, phi2: str,
                               a: float = 6378137.0,
                               f: float = 1.0 / 298.257223563,
                               iters: int = 12) -> tuple[str, str]:
    """Radian-expression form of the Vincenty inverse chain (dialect
    pair: ``geodesy.inverse_core``): raw longitude difference ``Lr``
    and latitudes ``phi1``/``phi2`` as radian SQL expressions ->
    ``(s_meters_col, alpha1_col)`` where alpha1 is the forward azimuth
    at point 1 — the pair the aeqd projection kernel consumes."""
    b = a * (1.0 - f)
    tag = f"vc_{ch.i}"
    ch.add({
        f"Lr_{tag}": Lr,
        f"u1_{tag}": f"atan({_f(1.0 - f)} * tan({phi1}))",
        f"u2_{tag}": f"atan({_f(1.0 - f)} * tan({phi2}))",
    })
    ch.add({
        # same floor-based wrap as the numpy kernel — exact parity
        f"L_{tag}": (
            f"(Lr_{tag} - 2.0*pi()"
            f" * floor((Lr_{tag} + pi()) / (2.0*pi())))"),
    })
    ch.add({
        f"su1_{tag}": f"sin(u1_{tag})", f"cu1_{tag}": f"cos(u1_{tag})",
        f"su2_{tag}": f"sin(u2_{tag})", f"cu2_{tag}": f"cos(u2_{tag})",
    })
    lam = f"L_{tag}"
    for i in list(range(iters)) + ["fin"]:
        t = f"{tag}_{i}"
        ch.add({
            f"sl_{t}": f"sin({lam})", f"cl_{t}": f"cos({lam})",
        })
        ch.add({
            f"ss_{t}": (
                f"sqrt(pow(cu2_{tag}*sl_{t}, 2)"
                f" + pow(cu1_{tag}*su2_{tag} - su1_{tag}*cu2_{tag}*cl_{t}, 2))"),
            f"cs_{t}": f"(su1_{tag}*su2_{tag} + cu1_{tag}*cu2_{tag}*cl_{t})",
        })
        ch.add({f"sg_{t}": f"atan2(ss_{t}, cs_{t})"})
        ch.add({f"sa_{t}": (
            f"(CASE WHEN ss_{t} <> 0.0"
            f" THEN cu1_{tag}*cu2_{tag}*sl_{t} / ss_{t} ELSE 0.0 END)")})
        ch.add({f"c2a_{t}": f"(1.0 - sa_{t}*sa_{t})"})
        ch.add({f"c2m_{t}": (
            f"(CASE WHEN c2a_{t} <> 0.0"
            f" THEN cs_{t} - 2.0*su1_{tag}*su2_{tag} / c2a_{t}"
            f" ELSE 0.0 END)")})
        if i == "fin":
            break
        ch.add({f"cc_{t}": (
            f"({_f(f / 16.0)} * c2a_{t}"
            f" * (4.0 + {_f(f)} * (4.0 - 3.0 * c2a_{t})))")})
        nxt = f"lam_{tag}_{i}"
        ch.add({nxt: (
            f"(L_{tag} + (1.0 - cc_{t}) * {_f(f)} * sa_{t} * (sg_{t}"
            f" + cc_{t} * ss_{t} * (c2m_{t}"
            f" + cc_{t} * cs_{t} * (-1.0 + 2.0*c2m_{t}*c2m_{t}))))")})
        lam = nxt
    t = f"{tag}_fin"
    ch.add({f"usq_{t}": f"(c2a_{t} * {_f((a * a - b * b) / (b * b))})"})
    ch.add({
        f"Ab_{t}": (
            f"(1.0 + usq_{t}/16384.0 * (4096.0 + usq_{t}"
            f" * (-768.0 + usq_{t} * (320.0 - 175.0*usq_{t}))))"),
        f"Bb_{t}": (
            f"(usq_{t}/1024.0 * (256.0 + usq_{t}"
            f" * (-128.0 + usq_{t} * (74.0 - 47.0*usq_{t}))))"),
    })
    ch.add({f"ds_{t}": (
        f"(Bb_{t} * ss_{t} * (c2m_{t} + Bb_{t}/4.0 * (cs_{t}"
        f" * (-1.0 + 2.0*c2m_{t}*c2m_{t})"
        f" - Bb_{t}/6.0 * c2m_{t} * (-3.0 + 4.0*ss_{t}*ss_{t})"
        f" * (-3.0 + 4.0*c2m_{t}*c2m_{t}))))")})
    out = f"s_{t}"
    az = f"az_{t}"
    ch.add({
        out: (
            f"(CASE WHEN abs({lam}) > pi() THEN NULL"
            f" ELSE {_f(b)} * Ab_{t} * (sg_{t} - ds_{t}) END)"),
        az: (
            f"atan2(cu2_{tag}*sl_{t},"
            f" cu1_{tag}*su2_{tag} - su1_{tag}*cu2_{tag}*cl_{t})"),
    })
    return out, az


def sql_ortho_fwd(lon: str, lat: str, proj: str) -> tuple[str, str]:
    """Orthographic forward, full EPSG method 9840 ellipsoidal form
    (dialect pair: kernels.ortho_fwd).  Caller's point domain must be
    inside the visible hemisphere — the far side is a NaN/NULL domain
    error, not a value."""
    import math

    from . import kernels as K
    from .crs import parse_proj_string

    params = parse_proj_string(proj)[0]
    a, es = K.ellipsoid(params)
    P = K.ortho_setup(params, a, es)
    lam0 = math.radians(float(params.get("lon_0", 0.0)))
    sp0, cp0, nu0 = P["sp0"], P["cp0"], P["nu0"]
    lam = f"(radians({lon}) - {_f(lam0)})"
    phi = f"radians({lat})"
    sp = f"sin({phi})"
    cp = f"cos({phi})"
    nu = f"(1.0 / sqrt(1.0 - {_f(es)} * {sp} * {sp}))"
    x = f"({_f(a)} * ({nu} * {cp} * sin({lam})))"
    y = (f"({_f(a)} * ({nu} * ({sp} * {_f(cp0)} - {cp} * {_f(sp0)}"
         f" * cos({lam})) + {_f(es)} * ({_f(nu0)} * {_f(sp0)}"
         f" - {nu} * {sp}) * {_f(cp0)}))")
    return x, y


def sql_gnom_fwd(lon: str, lat: str, proj: str) -> tuple[str, str]:
    """Gnomonic forward (dialect pair: kernels.gnom_fwd), spherical.
    Caller's domain must stay inside the near hemisphere."""
    import math

    from . import kernels as K
    from .crs import parse_proj_string

    params = parse_proj_string(proj)[0]
    a, _es = K.ellipsoid(params)
    P = K.gnom_setup(params, a, 0.0)
    lam0 = math.radians(float(params.get("lon_0", 0.0)))
    sp0, cp0 = P["sp0"], P["cp0"]
    lam = f"(radians({lon}) - {_f(lam0)})"
    phi = f"radians({lat})"
    sp = f"sin({phi})"
    cp = f"cos({phi})"
    cosc = f"({_f(sp0)}*{sp} + {_f(cp0)}*{cp}*cos({lam}))"
    x = f"({_f(a)} * ({cp}*sin({lam}) / {cosc}))"
    y = f"({_f(a)} * (({_f(cp0)}*{sp} - {_f(sp0)}*{cp}*cos({lam})) / {cosc}))"
    return x, y


def sql_cass_fwd(lon: str, lat: str, proj: str) -> tuple[str, str]:
    """Cassini-Soldner forward (dialect pair: kernels.cass_fwd):
    Snyder ch. 13 series over the en meridian-arc coefficients."""
    import math

    from . import kernels as K
    from .crs import parse_proj_string

    params = parse_proj_string(proj)[0]
    a, es = K.ellipsoid(params)
    P = K.cass_setup(params, a, es)
    en = P["en"]
    lam0 = math.radians(float(params.get("lon_0", 0.0)))
    x0 = float(params.get("x_0", 0.0))
    y0 = float(params.get("y_0", 0.0))
    phi = f"radians({lat})"
    s = f"sin({phi})"
    c = f"cos({phi})"
    s2 = f"({s}*{s})"
    ml = _sql_mlfn(phi, en)
    lam = f"(radians({lon}) - {_f(lam0)})"
    n = f"(1.0 / sqrt(1.0 - {_f(es)}*{s2}))"
    T = f"(tan({phi})*tan({phi}))"
    A = f"({lam} * {c})"
    C = f"({_f(es)} * {c} * {c} / {_f(1.0 - es)})"
    A2 = f"({A}*{A})"
    x = (f"({_f(a)} * ({n} * ({A} - {T}*{A}*{A2}/6.0"
         f" - (8.0 - {T} + 8.0*{C})*{T}*{A}*{A2}*{A2}/120.0)) + {_f(x0)})")
    y = (f"({_f(a)} * ({ml} - {_f(P['m0'])}"
         f" + {n}*tan({phi})*({A2}/2.0"
         f" + (5.0 - {T} + 6.0*{C})*{A2}*{A2}/24.0)) + {_f(y0)})")
    return x, y


def chain_aeqd_fwd(ch: Chain, lon: str, lat: str,
                   proj: str) -> tuple[str, str]:
    """Azimuthal-equidistant forward (dialect pair: kernels.aeqd_fwd):
    unrolled-Vincenty geodesic distance + forward azimuth from the
    projection centre, then x = s*sin(az), y = s*cos(az).  Mirrors the
    kernel step for step: lam is first wrapped by the engine's adjlon
    (floor form), then the Vincenty chain wraps its L again (no-op on
    wrapped input, kept for parity)."""
    import math

    from . import kernels as K
    from .crs import parse_proj_string

    params = parse_proj_string(proj)[0]
    a, es = K.ellipsoid(params)
    P = K.aeqd_setup(params, a, es)
    lam0 = math.radians(float(params.get("lon_0", 0.0)))
    x0 = float(params.get("x_0", 0.0))
    y0 = float(params.get("y_0", 0.0))
    tag = f"ae_{ch.i}"
    ch.add({f"lr_{tag}": f"(radians({lon}) - {_f(lam0)})"})
    ch.add({f"lam_{tag}": (
        f"(lr_{tag} - 2.0*pi() * floor((lr_{tag} + pi()) / (2.0*pi())))")})
    s_col, az_col = chain_vincenty_inverse_rad(
        ch, f"lam_{tag}", _f(P["phi0"]), f"radians({lat})",
        a=a, f=P["f"])
    x = f"({_f(a)} * (({s_col} / {_f(a)}) * sin({az_col})) + {_f(x0)})"
    y = f"({_f(a)} * (({s_col} / {_f(a)}) * cos({az_col})) + {_f(y0)})"
    return x, y


def sql_sinu_fwd(lon: str, lat: str,
                 code: str = "ESRI:54008") -> tuple[str, str]:
    """Sinusoidal forward (dialect pair: kernels.sinu_fwd): meridian
    arc via the en-series, x scaled by the parallel radius."""
    from . import kernels as K
    from .crs import parse_proj_string, resolve_crs

    entry = resolve_crs(code)
    p = parse_proj_string(entry.proj)[0]
    a, es = K.ellipsoid(p)
    en = K._enfn(es)
    lam0 = math.radians(float(p.get("lon_0", 0.0)))
    x0 = float(p.get("x_0", 0.0))
    y0 = float(p.get("y_0", 0.0))
    phi = f"radians({lat})"
    s = f"sin({phi})"
    c = f"cos({phi})"
    s2 = f"({s}*{s})"
    ml = _sql_mlfn(phi, en)
    lam = f"(radians({lon}) - {_f(lam0)})"
    x = f"({_f(a)} * {lam} * {c} / sqrt(1.0 - {_f(es)}*{s2}) + {_f(x0)})"
    y = f"({_f(a)} * {ml} + {_f(y0)})"
    return x, y


def sql_planted_hash(key: str, bits: int = 60, flips: int = 3) -> str:
    """Dialect twin of ``operators.imagedup.planted_hash_col``: rows
    sharing ``key >> 1`` share an md5-derived base hash; odd keys flip
    ``flips`` stride-7 bit positions, planting Hamming-``flips``
    near-duplicate pairs."""
    base = sql_md5_long(f"(({key}) >> 1)::VARCHAR")
    h = base
    for j in range(flips):
        pos = f"((({key}) % 97 + {7 * j}) % {bits})"
        h = f"xor({h}, (1::BIGINT << {pos}))"
    return f"(CASE WHEN ({key}) % 2 = 1 THEN {h} ELSE {base} END)"


def sql_planted_chain_hash(key: str, group_size: int = 3, bits: int = 60,
                           flips: int = 3) -> str:
    """Dialect twin of ``operators.imagedup.planted_chain_hash_col``."""
    base = sql_md5_long(f"(({key}) // {group_size})::VARCHAR")
    h = base
    for j in range(flips):
        pos = f"((({key}) % 97 + {7 * j}) % {bits})"
        h = f"xor({h}, (1::BIGINT << {pos}))"
    return f"(CASE WHEN ({key}) % {group_size} = 0 THEN {base} ELSE {h} END)"


# ---------------------------------------------------------------------------
# splitmix64 (dialect pair: numpy side in sources/datagen.py:splitmix64)
# ---------------------------------------------------------------------------
_U64_MOD = "18446744073709551616::HUGEINT"  # 2^64


def _sm_mulmod(z: str, c: int) -> str:
    """(z * c) mod 2^64 without overflow: split z into 32-bit halves and
    compute in HUGEINT (DuckDB raises on 64-bit multiply overflow rather
    than wrapping, so the wrap is done explicitly)."""
    return (
        f"((((({z}) % 4294967296)::HUGEINT * {c}::HUGEINT"
        f" + (((({z}) // 4294967296)::HUGEINT * {c}::HUGEINT) % 4294967296)"
        f" * 4294967296) % {_U64_MOD})::UBIGINT)"
    )


def chain_splitmix64(ch: Chain, expr: str, tag: str) -> str:
    """Append splitmix64(expr) CTE steps (bit-exact vs the numpy
    generator); returns the UBIGINT output column name."""
    z0 = f"sm0_{tag}"
    ch.add({z0: f"((((({expr})::HUGEINT + 11400714819323198485::HUGEINT)"
                f" % {_U64_MOD})::UBIGINT))"})
    z1 = f"sm1_{tag}"
    ch.add({z1: f"xor({z0}, {z0} >> 30)"})
    z2 = f"sm2_{tag}"
    ch.add({z2: _sm_mulmod(z1, 13787848793156543929)})
    z3 = f"sm3_{tag}"
    ch.add({z3: f"xor({z2}, {z2} >> 27)"})
    z4 = f"sm4_{tag}"
    ch.add({z4: _sm_mulmod(z3, 10723151780598845931)})
    z5 = f"sm5_{tag}"
    ch.add({z5: f"xor({z4}, {z4} >> 31)"})
    return z5


# ---------------------------------------------------------------------------
# eqc / cea / moll (dialect pair: kernels.eqc_* / cea_* / moll_*)
# ---------------------------------------------------------------------------
def sql_eqc_fwd(lon: str, lat: str, code: str = "EPSG:4087") -> tuple[str, str]:
    from .crs import parse_proj_string, resolve_crs

    entry = resolve_crs(code)
    p = parse_proj_string(entry.proj)[0]
    a = 6378137.0
    rc = math.cos(math.radians(float(p.get("lat_ts", 0.0))))
    phi0 = math.radians(float(p.get("lat_0", 0.0)))
    x = f"({_f(a * rc)} * radians({lon}))"
    y = f"({_f(a)} * (radians({lat}) - {_f(phi0)}))"
    return x, y


def sql_cea_fwd(lon: str, lat: str, code: str = "EPSG:6933") -> tuple[str, str]:
    from . import kernels as K
    from .crs import parse_proj_string, resolve_crs

    entry = resolve_crs(code)
    p = parse_proj_string(entry.proj)[0]
    a, es = K.ellipsoid(p)
    e = math.sqrt(es)
    one_es = 1.0 - es
    phits = math.radians(float(p.get("lat_ts", 0.0)))
    k0 = math.cos(phits) / math.sqrt(1.0 - es * math.sin(phits) ** 2)
    x = f"({_f(a * k0)} * radians({lon}))"
    q = _qsfn(f"sin(radians({lat}))", e, one_es)
    y = f"({_f(a / (2.0 * k0))} * {q})"
    return x, y


def chain_moll_fwd(ch: Chain, lon: str, lat: str,
                   iters: int = 12) -> tuple[str, str]:
    """Mollweide forward: Newton for 2t + sin(2t) = pi*sin(phi), then
    closed-form x/y — mirrors kernels._moll_theta step for step."""
    a = 6378137.0
    tag = f"moll_{ch.i}"
    ch.add({f"phi_{tag}": f"radians({lat})",
            f"lam_{tag}": f"radians({lon})"})
    ch.add({f"k_{tag}": f"(pi() * sin(phi_{tag}))"})
    th = f"th0_{tag}"
    ch.add({th: f"phi_{tag}"})
    for i in range(iters):
        nxt = f"th{i + 1}_{tag}"
        denom = f"(2.0 + 2.0 * cos(2.0 * {th}))"
        step = (f"(CASE WHEN abs({denom}) > 1e-14 THEN "
                f"(2.0 * {th} + sin(2.0 * {th}) - k_{tag})"
                f" / greatest({denom}, 1e-14) ELSE 0.0 END)")
        ch.add({nxt: f"({th} - {step})"})
        th = nxt
    cx = 2.0 * math.sqrt(2.0) / math.pi
    cy = math.sqrt(2.0)
    x = f"({_f(a * cx)} * lam_{tag} * cos({th}))"
    y = f"({_f(a * cy)} * sin({th}))"
    return x, y


def sql_natearth_fwd(lon: str, lat: str) -> tuple[str, str]:
    """Natural Earth forward (dialect pair: kernels.natearth_fwd):
    pure published polynomials — no iteration needed."""
    from . import kernels as K

    a = 6378137.0
    A, B = K._NE_X, K._NE_Y
    p = f"radians({lat})"
    p2 = f"({p}*{p})"
    p4 = f"({p2}*{p2})"
    p6 = f"({p2}*{p4})"
    xfac = (f"({_f(A[0])} + {p2}*({_f(A[1])} + {p2}*{_f(A[2])})"
            f" + {p4}*{p4}*{p2}*({_f(A[3])} + {p2}*{_f(A[4])}))")
    yv = (f"({p}*({_f(B[0])} + {p2}*{_f(B[1])})"
          f" + {p}*{p6}*({_f(B[2])} + {p2}*({_f(B[3])}"
          f" + {p2}*{_f(B[4])})))")
    x = f"({_f(a)} * radians({lon}) * {xfac})"
    y = f"({_f(a)} * {yv})"
    return x, y


def chain_eck4_fwd(ch: Chain, lon: str, lat: str,
                   iters: int = 12) -> tuple[str, str]:
    """Eckert IV forward: Newton for
    theta + sin(theta)cos(theta) + 2 sin(theta) = (2 + pi/2) sin(phi),
    unrolled to the kernel's iteration count with the same clip and
    pole pin (dialect pair: kernels._eck4_theta)."""
    from . import kernels as K

    a = 6378137.0
    tag = f"eck4_{ch.i}"
    ch.add({f"phi_{tag}": f"radians({lat})",
            f"lam_{tag}": f"radians({lon})"})
    ch.add({f"sp_{tag}": f"sin(phi_{tag})"})
    ch.add({f"rhs_{tag}": f"({_f(float(K._ECK4_CP))} * sp_{tag})"})
    th = f"th0_{tag}"
    ch.add({th: f"(phi_{tag} / 2.0)"})
    hp = math.pi / 2.0
    for i in range(iters):
        nxt = f"th{i + 1}_{tag}"
        s, c = f"sin({th})", f"cos({th})"
        f_ = f"({th} + {s}*{c} + 2.0*{s} - rhs_{tag})"
        fp = f"greatest(2.0*{c}*(1.0 + {c}), 1e-9)"
        ch.add({nxt: (
            f"least(greatest({th} - {f_}/{fp}, {_f(-hp)}), {_f(hp)})")})
        th = nxt
    final = (f"(CASE WHEN abs(sp_{tag}) >= 1.0 - 1e-14 "
             f"THEN sign(sp_{tag}) * {_f(hp)} ELSE {th} END)")
    ch.add({f"tf_{tag}": final})
    x = f"({_f(a * float(K._ECK4_CX))} * lam_{tag} * (1.0 + cos(tf_{tag})))"
    y = f"({_f(a * float(K._ECK4_CY))} * sin(tf_{tag}))"
    return x, y


def _sql_mlfn(phi: str, en) -> str:
    """Meridian-arc en-series on a radians expression (shared by the
    sinu/bonne/eqdc oracles)."""
    s = f"sin({phi})"
    c = f"cos({phi})"
    s2 = f"({s}*{s})"
    return (f"({_f(en[0])}*({phi}) - ({c}*{s})*({_f(en[1])} + {s2}*({_f(en[2])}"
            f" + {s2}*({_f(en[3])} + {s2}*{_f(en[4])}))))")


def chain_bonne_fwd(ch: Chain, lon: str, lat: str,
                    code: str = "ESRI:54024") -> tuple[str, str]:
    """Bonne forward (dialect pair: kernels.bonne_fwd): rho from the
    meridian-arc series, T = lam*m/rho, arcs about the lat_1 origin."""
    from . import kernels as K
    from .crs import parse_proj_string, resolve_crs

    entry = resolve_crs(code)
    p = parse_proj_string(entry.proj)[0]
    a, es = K.ellipsoid(p)
    P = K.bonne_setup(p, a, es)
    lam0 = math.radians(float(p.get("lon_0", 0.0)))
    x0 = float(p.get("x_0", 0.0))
    y0 = float(p.get("y_0", 0.0))
    tag = f"bn_{ch.i}"
    ch.add({f"phi_{tag}": f"radians({lat})",
            f"lr_{tag}": f"(radians({lon}) - {_f(lam0)})"})
    # engine adjlon wrap (floor form), matching the ProjStep reduction
    ch.add({f"lam_{tag}": (
        f"(lr_{tag} - 2.0*pi() * floor((lr_{tag} + pi()) / (2.0*pi())))")})
    ch.add({
        f"rho_{tag}": f"({_f(P['c0'])} - {_sql_mlfn(f'phi_{tag}', P['en'])})",
        f"m_{tag}": (f"(cos(phi_{tag})"
                     f" / sqrt(1.0 - {_f(es)}*sin(phi_{tag})*sin(phi_{tag})))"),
    })
    ch.add({f"t_{tag}": f"(lam_{tag} * m_{tag} / rho_{tag})"})
    x = f"({_f(a)} * rho_{tag} * sin(t_{tag}) + {_f(x0)})"
    y = (f"({_f(a)} * ({_f(P['c0'] - P['ml1'])}"
         f" - rho_{tag} * cos(t_{tag})) + {_f(y0)})")
    return x, y


def chain_eqdc_fwd(ch: Chain, lon: str, lat: str,
                   code: str = "ESRI:102031") -> tuple[str, str]:
    """Equidistant Conic forward (dialect pair: kernels.eqdc_fwd):
    rho = G - M(phi), theta = n*lam."""
    from . import kernels as K
    from .crs import parse_proj_string, resolve_crs

    entry = resolve_crs(code)
    p = parse_proj_string(entry.proj)[0]
    a, es = K.ellipsoid(p)
    P = K.eqdc_setup(p, a, es)
    lam0 = math.radians(float(p.get("lon_0", 0.0)))
    x0 = float(p.get("x_0", 0.0))
    y0 = float(p.get("y_0", 0.0))
    tag = f"ec_{ch.i}"
    if entry.datum_ellps != "WGS84":
        # engine path runs WGS84 -> local-ellipsoid through ECEF even
        # for towgs84=(0,0,0): the flattening difference alone moves
        # latitudes ~1e-4 m — mirror it
        lam_c, phi_c = chain_datum_shift(
            ch, lon, lat, "WGS84", entry.datum_ellps,
            dst_towgs84=entry.towgs84, out=(f"eclam_{tag}", f"ecphi_{tag}"))
        ch.add({f"phi_{tag}": f"({phi_c})",
                f"lr_{tag}": f"(({lam_c}) - {_f(lam0)})"})
    else:
        ch.add({f"phi_{tag}": f"radians({lat})",
                f"lr_{tag}": f"(radians({lon}) - {_f(lam0)})"})
    # engine adjlon wrap (floor form), matching the ProjStep reduction
    ch.add({f"lam_{tag}": (
        f"(lr_{tag} - 2.0*pi() * floor((lr_{tag} + pi()) / (2.0*pi())))")})
    ch.add({f"th_{tag}": f"({_f(P['n'])} * lam_{tag})"})
    ch.add({f"rho_{tag}": f"({_f(P['G'])} - {_sql_mlfn(f'phi_{tag}', P['en'])})"})
    x = f"({_f(a)} * rho_{tag} * sin(th_{tag}) + {_f(x0)})"
    y = f"({_f(a)} * ({_f(P['rho0'])} - rho_{tag} * cos(th_{tag})) + {_f(y0)})"
    return x, y


def sql_vandg_fwd(lon: str, lat: str) -> tuple[str, str]:
    """Van der Grinten I forward (dialect pair: kernels.vandg_fwd):
    Snyder ch. 29 closed forms with the same branch guards and the
    same cancellation-free disc_y expansion."""
    a = 6378137.0
    lam = f"radians({lon})"
    phi = f"radians({lat})"
    th = f"asin(least(abs(2.0 * {phi} / pi()), 1.0))"
    st, ct = f"sin({th})", f"cos({th})"
    A = f"(0.5 * abs(pi() / {lam} - {lam} / pi()))"
    G = f"({ct} / ({st} + {ct} - 1.0))"
    Pq = f"({G} * (2.0 / {st} - 1.0))"
    A2, P2 = f"({A}*{A})", f"({Pq}*{Pq})"
    Q = f"({A2} + {G})"
    disc_x = f"({A2}*({G}-{P2})*({G}-{P2}) - ({P2}+{A2})*({G}*{G}-{P2}))"
    x_gen = (f"(pi() * ({A}*({G}-{P2})"
             f" + sqrt(greatest({disc_x}, 0.0))) / ({P2}+{A2}))")
    disc_y = f"({A2}*({P2} + 1.0 - 2.0*{G}) + ({P2} - {G}*{G}))"
    y_gen = (f"(pi() * ({Pq}*{Q}"
             f" - {A}*sqrt(greatest({disc_y}, 0.0))) / ({P2}+{A2}))")
    on_eq = f"(abs({phi}) < 1e-10)"
    on_mer = f"(abs({lam}) < 1e-10 OR abs(abs({phi}) - pi()/2.0) < 1e-10)"
    x = (f"({_f(a)} * (CASE WHEN {on_eq} THEN {lam} "
         f"WHEN {on_mer} THEN 0.0 "
         f"ELSE sign({lam}) * {x_gen} END))")
    y = (f"({_f(a)} * (CASE WHEN {on_eq} THEN 0.0 "
         f"WHEN {on_mer} THEN sign({phi}) * pi() * tan(0.5 * {th}) "
         f"ELSE sign({phi}) * {y_gen} END))")
    return x, y


def chain_igh_fwd(ch: Chain, lon: str, lat: str,
                  iters: int = 12) -> tuple[str, str]:
    """Interrupted Goode homolosine forward (dialect pair:
    kernels.igh_fwd): per-row lobe central meridian, sinusoidal band
    below the computed seam latitude, shifted Mollweide above (same
    Newton unroll as chain_moll_fwd on the lobe-relative longitude)."""
    from . import kernels as K

    a = 6378137.0
    tag = f"igh_{ch.i}"
    ch.add({f"phi_{tag}": f"radians({lat})",
            f"lam_{tag}": f"radians({lon})"})
    d40, d100, d20, d80 = (math.radians(v) for v in (-40.0, -100.0,
                                                     -20.0, 80.0))
    north = (f"(CASE WHEN lam_{tag} < {_f(d40)} THEN {_f(math.radians(-100.0))}"
             f" ELSE {_f(math.radians(30.0))} END)")
    south = (f"(CASE WHEN lam_{tag} < {_f(d100)} THEN {_f(math.radians(-160.0))}"
             f" WHEN lam_{tag} < {_f(d20)} THEN {_f(math.radians(-60.0))}"
             f" WHEN lam_{tag} < {_f(d80)} THEN {_f(math.radians(20.0))}"
             f" ELSE {_f(math.radians(140.0))} END)")
    ch.add({f"lamc_{tag}": (
        f"(CASE WHEN phi_{tag} < 0.0 THEN {south} ELSE {north} END)")})
    ch.add({f"dl_{tag}": f"(lam_{tag} - lamc_{tag})"})
    # Mollweide Newton on phi (same unroll as chain_moll_fwd)
    ch.add({f"k_{tag}": f"(pi() * sin(phi_{tag}))"})
    th = f"th0_{tag}"
    ch.add({th: f"phi_{tag}"})
    for i in range(iters):
        nxt = f"th{i + 1}_{tag}"
        denom = f"(2.0 + 2.0 * cos(2.0 * {th}))"
        step = (f"(CASE WHEN abs({denom}) > 1e-14 THEN "
                f"(2.0 * {th} + sin(2.0 * {th}) - k_{tag})"
                f" / greatest({denom}, 1e-14) ELSE 0.0 END)")
        ch.add({nxt: f"({th} - {step})"})
        th = nxt
    cx = 2.0 * math.sqrt(2.0) / math.pi
    cy = math.sqrt(2.0)
    in_moll = f"(abs(phi_{tag}) > {_f(K._IGH_PHI0)})"
    x = (f"({_f(a)} * (CASE WHEN {in_moll} THEN "
         f"(lamc_{tag} + {_f(cx)} * dl_{tag} * cos({th})) "
         f"ELSE (lamc_{tag} + dl_{tag} * cos(phi_{tag})) END))")
    y = (f"({_f(a)} * (CASE WHEN {in_moll} THEN "
         f"({_f(cy)} * sin({th}) - sign(phi_{tag}) * {_f(K._IGH_Y0)}) "
         f"ELSE phi_{tag} END))")
    return x, y


# ---------------------------------------------------------------------------
# round-5 battery helpers: the closed-form world projections that used
# to live inline in the per-query oracles, factored so one battery
# query can stack many kernels as columns (expressions identical to
# the formerly-inline q74/q75/q76/q84/q85/q86 oracle bodies).
# ---------------------------------------------------------------------------
def sql_mill_fwd(lon: str, lat: str) -> tuple[str, str]:
    """Miller Cylindrical forward (dialect pair: kernels.mill_fwd)."""
    a = 6378137.0
    x = f"({_f(a)} * radians({lon}))"
    y = f"({_f(a)} * 1.25 * ln(tan(pi()/4.0 + 0.4 * radians({lat}))))"
    return x, y


def sql_gall_fwd(lon: str, lat: str) -> tuple[str, str]:
    """Gall Stereographic forward (dialect pair: kernels.gall_fwd);
    y constant pre-multiplied in Python — DuckDB parses adjacent float
    literals as DECIMALs and overflows on their product."""
    a = 6378137.0
    gyf = a * (1.0 + math.sqrt(2.0) / 2.0)
    x = f"({_f(a)} * radians({lon}) / sqrt(2.0))"
    y = f"({_f(gyf)} * tan(radians({lat}) / 2.0))"
    return x, y


def sql_hammer_fwd(lon: str, lat: str) -> tuple[str, str]:
    """Hammer-Aitoff forward (dialect pair: kernels.hammer_fwd)."""
    a = 6378137.0
    l_ = f"radians({lon})"
    p_ = f"radians({lat})"
    d = f"sqrt(greatest(1.0 + cos({p_}) * cos({l_}/2.0), 1e-300))"
    x = f"({_f(a)} * 2.0 * sqrt(2.0) * cos({p_}) * sin({l_}/2.0) / {d})"
    y = f"({_f(a)} * sqrt(2.0) * sin({p_}) / {d})"
    return x, y


def _chain_sinc_al(ch: Chain, lon: str, lat: str) -> tuple[str, str, str]:
    """Shared Aitoff/Winkel-Tripel intermediate: angular distance al
    from (0, 0)-centred cos(p)cos(l/2) and its sinc with the 0-limit."""
    tag = f"ai_{ch.i}"
    ch.add({f"l_{tag}": f"radians({lon})", f"p_{tag}": f"radians({lat})"})
    ch.add({f"al_{tag}": (
        f"acos(least(greatest(cos(p_{tag}) * cos(l_{tag}/2.0), -1.0),"
        f" 1.0))")})
    ch.add({f"snc_{tag}": (
        f"CASE WHEN abs(al_{tag}) < 1e-12 THEN 1.0 "
        f"ELSE sin(al_{tag})/al_{tag} END")})
    return f"l_{tag}", f"p_{tag}", f"snc_{tag}"


def chain_aitoff_fwd(ch: Chain, lon: str, lat: str) -> tuple[str, str]:
    """Aitoff forward (dialect pair: kernels.aitoff_fwd)."""
    a = 6378137.0
    l_, p_, snc = _chain_sinc_al(ch, lon, lat)
    x = f"({_f(a)} * 2.0 * cos({p_}) * sin({l_}/2.0) / {snc})"
    y = f"({_f(a)} * sin({p_}) / {snc})"
    return x, y


def chain_wintri_fwd(ch: Chain, lon: str, lat: str) -> tuple[str, str]:
    """Winkel Tripel forward (dialect pair: kernels.wintri_fwd):
    mean of equidistant cylindrical (phi1 = acos(2/pi)) and Aitoff."""
    a = 6378137.0
    cp1 = 2.0 / math.pi
    l_, p_, snc = _chain_sinc_al(ch, lon, lat)
    x = (f"({_f(a)} * 0.5 * ({l_} * {_f(cp1)}"
         f" + 2.0*cos({p_})*sin({l_}/2.0)/{snc}))")
    y = f"({_f(a)} * 0.5 * ({p_} + sin({p_})/{snc}))"
    return x, y


def chain_eck6_fwd(ch: Chain, lon: str, lat: str,
                   iters: int = 12) -> tuple[str, str]:
    """Eckert VI forward (dialect pair: kernels.eck6_fwd): unrolled
    Newton for theta + sin(theta) = (1 + pi/2) sin(phi), mirroring
    kernels._eck6_theta step for step."""
    a = 6378137.0
    c = math.sqrt(2.0 + math.pi)
    tag = f"e6_{ch.i}"
    ch.add({f"phi_{tag}": f"radians({lat})", f"lam_{tag}": f"radians({lon})"})
    ch.add({f"sp_{tag}": f"sin(phi_{tag})"})
    ch.add({f"rhs_{tag}": f"({_f(1.0 + 0.5 * math.pi)} * sp_{tag})"})
    th = f"t0_{tag}"
    ch.add({th: f"phi_{tag}"})
    for i in range(iters):
        nxt = f"t{i + 1}_{tag}"
        step = (f"(({th} + sin({th}) - rhs_{tag})"
                f" / greatest(1.0 + cos({th}), 1e-9))")
        ch.add({nxt: (
            f"least(greatest({th} - {step}, {_f(-math.pi / 2)}), "
            f"{_f(math.pi / 2)})")})
        th = nxt
    ch.add({f"tf_{tag}": (
        f"(CASE WHEN abs(sp_{tag}) >= 1.0 - 1e-14 "
        f"THEN sign(sp_{tag}) * {_f(math.pi / 2)} ELSE {th} END)")})
    x = f"({_f(a)} * lam_{tag} * (1.0 + cos(tf_{tag})) / {_f(c)})"
    y = f"({_f(a)} * 2.0 * tf_{tag} / {_f(c)})"
    return x, y


def sql_geos_fwd(lon: str, lat: str, proj: str) -> tuple[str, str]:
    """Geostationary-satellite-view forward (dialect pair:
    kernels.geos_fwd — the CGMS normalized geostationary projection,
    ellipsoidal): geocentric latitude, surface radius, the satellite->
    point vector, then the two scan angles scaled by h.  Caller's
    domain must be fully visible from the satellite (the vis check is
    a NaN/NULL domain error, not a value)."""
    import math

    from . import kernels as K
    from .crs import parse_proj_string

    params = parse_proj_string(proj)[0]
    a, es = K.ellipsoid(params)
    one_es = 1.0 - es
    radius_p = math.sqrt(one_es)
    rg1 = float(params["h"]) / a
    rg = 1.0 + rg1
    lam0 = math.radians(float(params.get("lon_0", 0.0)))
    lam = f"(radians({lon}) - {_f(lam0)})"
    phi = f"radians({lat})"
    phi_c = f"atan({_f(one_es)} * tan({phi}))"
    r = (f"({_f(radius_p)} / sqrt(({_f(radius_p)} * cos({phi_c}))"
         f" * ({_f(radius_p)} * cos({phi_c}))"
         f" + sin({phi_c}) * sin({phi_c})))")
    vx = f"({r} * cos({lam}) * cos({phi_c}))"
    vy = f"({r} * sin({lam}) * cos({phi_c}))"
    vz = f"({r} * sin({phi_c}))"
    tmp = f"({_f(rg)} - {vx})"
    x = (f"({_f(a)} * ({_f(rg1)} * atan({vy}"
         f" / sqrt({vz} * {vz} + {tmp} * {tmp}))))")
    y = f"({_f(a)} * ({_f(rg1)} * atan({vz} / {tmp})))"
    return x, y


def sql_tpeqd_fwd(lon: str, lat: str, proj: str) -> tuple[str, str]:
    """Two-Point Equidistant forward (dialect pair: kernels.tpeqd_fwd,
    spherical): great-circle distances to the two control points, the
    planar two-circle intersection, side by the sign of the vector
    triple product (v1 x v2) . v — every constant embedded as a
    float64 literal."""
    from . import kernels as K
    from .crs import parse_proj_string

    p = parse_proj_string(proj)[0]
    R = float(p.get("R", 6371000.0))
    P = K.tpeqd_setup(p, R, 0.0)
    c = P["z02"]
    n = P["n"]
    lam = f"radians({lon})"
    phi = f"radians({lat})"
    sp, cp = f"sin({phi})", f"cos({phi})"
    z1 = (f"acos(least(greatest({_f(math.sin(P['phi1']))}*{sp}"
          f" + {_f(math.cos(P['phi1']))}*{cp}*cos({lam} - {_f(P['lam1'])}),"
          f" -1.0), 1.0))")
    z2 = (f"acos(least(greatest({_f(math.sin(P['phi2']))}*{sp}"
          f" + {_f(math.cos(P['phi2']))}*{cp}*cos({lam} - {_f(P['lam2'])}),"
          f" -1.0), 1.0))")
    x = f"(({z1}*{z1} - {z2}*{z2}) / {_f(2.0 * c)})"
    y2 = f"({z1}*{z1} - ({x} + {_f(0.5 * c)})*({x} + {_f(0.5 * c)}))"
    side = (f"({_f(float(n[0]))}*{cp}*cos({lam})"
            f" + {_f(float(n[1]))}*{cp}*sin({lam})"
            f" + {_f(float(n[2]))}*{sp})")
    sgn = (f"(CASE WHEN {side} > 0.0 THEN 1.0"
           f" WHEN {side} < 0.0 THEN -1.0 ELSE 0.0 END)")
    y = f"({sgn} * sqrt(greatest({y2}, 0.0)))"
    return f"({_f(R)} * {x})", f"({_f(R)} * {y})"


def chain_nzmg_fwd(ch: Chain, lon: str, lat: str,
                   code: str = "EPSG:27200") -> tuple[str, str]:
    """4326 -> New Zealand Map Grid: Helmert shift to NZGD49, dphi in
    1e5-arcsec units, the 10-term psi series, then the 6th-order
    complex Horner unrolled as real/imaginary column pairs (dialect
    pair: kernels.nzmg_fwd)."""
    from . import kernels as K
    from .crs import EPSG, parse_proj_string

    entry = EPSG[code]
    params = parse_proj_string(entry.proj)[0]
    a, _es = K.ellipsoid(params)
    phi0 = math.radians(float(params.get("lat_0", -41.0)))
    lam0 = math.radians(float(params.get("lon_0", 173.0)))
    x0 = float(params.get("x_0", 0.0))
    y0 = float(params.get("y_0", 0.0))
    lam_c, phi_c = chain_datum_shift(
        ch, lon, lat, "WGS84", entry.datum_ellps, dst_towgs84=entry.towgs84,
        out=("nzlam", "nzphi"))
    tag = f"nz_{ch.i}"
    ch.add({f"dp_{tag}": (
        f"((({phi_c}) - {_f(phi0)}) * {_f(K._NZMG_RAD_TO_SEC5)})")})
    # psi Horner (real, 10 terms)
    psi = _f(float(K._NZMG_TPSI[-1]))
    for t in K._NZMG_TPSI[-2::-1]:
        psi = f"({psi} * dp_{tag} + {_f(float(t))})"
    ch.add({f"psi_{tag}": f"({psi} * dp_{tag})",
            f"zl_{tag}": f"(({lam_c}) - {_f(lam0)})"})
    # complex Horner over z = psi + i*dlam (zero constant, times z)
    wr, wi = _f(float(K._NZMG_BF[-1].real)), _f(float(K._NZMG_BF[-1].imag))
    step = 0
    for b in K._NZMG_BF[-2::-1]:
        step += 1
        ch.add({
            f"wr{step}_{tag}": (
                f"(({wr})*psi_{tag} - ({wi})*zl_{tag} + {_f(float(b.real))})"),
            f"wi{step}_{tag}": (
                f"(({wr})*zl_{tag} + ({wi})*psi_{tag} + {_f(float(b.imag))})"),
        })
        wr, wi = f"wr{step}_{tag}", f"wi{step}_{tag}"
    ch.add({
        f"fr_{tag}": f"(({wr})*psi_{tag} - ({wi})*zl_{tag})",
        f"fi_{tag}": f"(({wr})*zl_{tag} + ({wi})*psi_{tag})",
    })
    x = f"({_f(a)} * fi_{tag} + {_f(x0)})"
    y = f"({_f(a)} * fr_{tag} + {_f(y0)})"
    return x, y


def sql_poly_fwd(lon: str, lat: str,
                 code: str = "ESRI:54021") -> tuple[str, str]:
    """American Polyconic forward (dialect pair: kernels.poly_fwd,
    EPSG method 9818): N*cot(phi) parallel arcs about the meridian-arc
    ordinate.  The engine's exact-equator branch triggers only below
    |phi| < 1e-10 rad, which no gate lattice row reaches, so the
    unguarded closed form is the exact dialect twin."""
    from . import kernels as K
    from .crs import parse_proj_string, resolve_crs

    entry = resolve_crs(code)
    p = parse_proj_string(entry.proj)[0]
    a, es = K.ellipsoid(p)
    en = K._enfn(es)
    lam0 = math.radians(float(p.get("lon_0", 0.0)))
    phi0 = math.radians(float(p.get("lat_0", 0.0)))
    import numpy as _np

    ml0 = float(K._mlfn(_np.float64(phi0), _np.sin(_np.float64(phi0)),
                        _np.cos(_np.float64(phi0)), en))
    x0 = float(p.get("x_0", 0.0))
    y0 = float(p.get("y_0", 0.0))
    phi = f"radians({lat})"
    sp = f"sin({phi})"
    cp = f"cos({phi})"
    ml = _sql_mlfn(phi, en)
    np_ = f"(1.0 / sqrt(1.0 - {_f(es)}*{sp}*{sp}))"
    E = f"((radians({lon}) - {_f(lam0)}) * {sp})"
    cot = f"({np_} * {cp} / {sp})"
    x = f"({_f(a)} * ({cot} * sin({E})) + {_f(x0)})"
    y = (f"({_f(a)} * ({ml} - {_f(ml0)} + {cot} * (1.0 - cos({E})))"
         f" + {_f(y0)})")
    return x, y


def sql_nsper_fwd(lon: str, lat: str, proj: str) -> tuple[str, str]:
    """Near-sided perspective forward (dialect pair: kernels.nsper_fwd,
    Snyder ch. 23).  Caller's point domain must stay inside the horizon
    circle cos(c) >= 1/P — beyond it the kernel NaNs."""
    import math

    from . import kernels as K
    from .crs import parse_proj_string

    params = parse_proj_string(proj)[0]
    a, _es = K.ellipsoid(params)
    P = K.nsper_setup(params, a, 0.0)
    if P["tilt"]:
        raise ValueError("sql_nsper_fwd replicates the untilted nsper "
                         "only — the tpers tilt/azimuth transform is "
                         "not mirrored in SQL")
    lam0 = math.radians(float(params.get("lon_0", 0.0)))
    sp0, cp0 = P["sp0"], P["cp0"]
    lam = f"(radians({lon}) - {_f(lam0)})"
    phi = f"radians({lat})"
    sp, cp = f"sin({phi})", f"cos({phi})"
    cosc = f"({_f(sp0)}*{sp} + {_f(cp0)}*{cp}*cos({lam}))"
    k = f"({_f(P['pn1'])} / ({_f(P['p'])} - {cosc}))"
    x = f"({_f(a)} * {k} * {cp} * sin({lam}))"
    y = f"({_f(a)} * {k} * ({_f(cp0)}*{sp} - {_f(sp0)}*{cp}*cos({lam})))"
    return x, y


def sql_tcea_fwd(lon: str, lat: str, proj: str) -> tuple[str, str]:
    """Transverse cylindrical equal-area forward (dialect pair:
    kernels.tcea_fwd, spherical Snyder ch. 10)."""
    import math

    from . import kernels as K
    from .crs import parse_proj_string

    params = parse_proj_string(proj)[0]
    a, _es = K.ellipsoid(params)
    P = K.tcea_setup(params, a, 0.0)
    lam0 = math.radians(float(params.get("lon_0", 0.0)))
    lam = f"(radians({lon}) - {_f(lam0)})"
    phi = f"radians({lat})"
    x = f"({_f(a)} * cos({phi}) * sin({lam}) / {_f(P['k0'])})"
    y = (f"({_f(a)} * {_f(P['k0'])} * (atan2(tan({phi}), cos({lam}))"
         f" - {_f(P['phi0'])}))")
    return x, y


def sql_collg_fwd(lon: str, lat: str, proj: str) -> tuple[str, str]:
    """Collignon forward (dialect pair: kernels.collg_fwd)."""
    from . import kernels as K
    from .crs import parse_proj_string

    params = parse_proj_string(proj)[0]
    a, _es = K.ellipsoid(params)
    phi = f"radians({lat})"
    s = f"sqrt(greatest(1.0 - sin({phi}), 0.0))"
    x = f"({_f(a * K._COLLG_FXC)} * radians({lon}) * {s})"
    y = f"({_f(a * K._COLLG_FYC)} * (1.0 - {s}))"
    return x, y


def sql_cc_fwd(lon: str, lat: str, proj: str) -> tuple[str, str]:
    """Central cylindrical forward (dialect pair: kernels.cc_fwd)."""
    from . import kernels as K
    from .crs import parse_proj_string

    params = parse_proj_string(proj)[0]
    a, _es = K.ellipsoid(params)
    return (f"({_f(a)} * radians({lon}))",
            f"({_f(a)} * tan(radians({lat})))")


def _chain_moll_theta_rad(ch: Chain, phi_col: str, tag: str,
                          iters: int = 12) -> str:
    """Newton for 2t + sin(2t) = pi*sin(phi) on a RADIAN column —
    mirrors kernels._moll_theta step for step (the chain_moll_fwd
    loop, reused by goode and ob_tran oracles)."""
    ch.add({f"k_{tag}": f"(pi() * sin({phi_col}))"})
    th = f"th0_{tag}"
    ch.add({th: phi_col})
    for i in range(iters):
        nxt = f"th{i + 1}_{tag}"
        denom = f"(2.0 + 2.0 * cos(2.0 * {th}))"
        step = (f"(CASE WHEN abs({denom}) > 1e-14 THEN "
                f"(2.0 * {th} + sin(2.0 * {th}) - k_{tag})"
                f" / greatest({denom}, 1e-14) ELSE 0.0 END)")
        ch.add({nxt: f"({th} - {step})"})
        th = nxt
    return th


def chain_goode_fwd(ch: Chain, lon: str, lat: str,
                    proj: str) -> tuple[str, str]:
    """Goode homolosine forward (dialect pair: kernels.goode_fwd):
    sinusoidal inside |phi| <= PHI_LIM, Mollweide shifted by the seam
    correction outside — both seam constants are the kernel's import-
    time floats embedded bit-exact."""
    from . import kernels as K
    from .crs import parse_proj_string

    params = parse_proj_string(proj)[0]
    a, _es = K.ellipsoid(params)
    tag = f"goode_{ch.i}"
    ch.add({f"phi_{tag}": f"radians({lat})",
            f"lam_{tag}": f"radians({lon})"})
    th = _chain_moll_theta_rad(ch, f"phi_{tag}", tag)
    cx = 2.0 * math.sqrt(2.0) / math.pi
    cy = math.sqrt(2.0)
    in_sinu = f"(abs(phi_{tag}) <= {_f(K._IGH_PHI0)})"
    x = (f"(CASE WHEN {in_sinu} "
         f"THEN {_f(a)} * lam_{tag} * cos(phi_{tag}) "
         f"ELSE {_f(a * cx)} * lam_{tag} * cos({th}) END)")
    y = (f"(CASE WHEN {in_sinu} THEN {_f(a)} * phi_{tag} "
         f"ELSE {_f(a)} * ({_f(cy)} * sin({th})"
         f" - sign(phi_{tag}) * {_f(K._IGH_Y0)}) END)")
    return x, y


def chain_ob_moll_fwd(ch: Chain, lon: str, lat: str,
                      proj: str) -> tuple[str, str]:
    """ob_tran(o_proj=moll) forward (dialect pair: kernels.ob_tran_fwd):
    the spherical pole rotation (kernels._ob_rotate_fwd, including the
    adjlon wrap) followed by the Mollweide Newton on the rotated
    radian coordinates."""
    from . import kernels as K
    from .crs import parse_proj_string

    params = parse_proj_string(proj)[0]
    a, _es = K.ellipsoid(params)
    P = K.ob_tran_setup(params, a, 0.0)
    if params.get("o_proj") != "moll":
        raise ValueError("chain_ob_moll_fwd replicates o_proj=moll only")
    tag = f"obm_{ch.i}"
    ch.add({f"phi_{tag}": f"radians({lat})",
            f"lam_{tag}": f"(radians({lon}) - {_f(P['lamoff'])})"})
    sphip, cphip = _f(P["sphip"]), _f(P["cphip"])
    ch.add({
        f"phir_{tag}": (
            f"asin(least(greatest({sphip}*sin(phi_{tag})"
            f" - {cphip}*cos(phi_{tag})*cos(lam_{tag}), -1.0), 1.0))"),
        f"lamr0_{tag}": (
            f"(atan2(cos(phi_{tag})*sin(lam_{tag}), "
            f"{sphip}*cos(phi_{tag})*cos(lam_{tag})"
            f" + {cphip}*sin(phi_{tag})) + {_f(P['lamp'])})"),
    })
    # kernels.adjlon: lam - 2*pi*floor((lam + pi) / (2*pi))
    ch.add({f"lamr_{tag}": (
        f"(lamr0_{tag} - 2.0*pi()*floor((lamr0_{tag} + pi())"
        f" / (2.0*pi())))")})
    th = _chain_moll_theta_rad(ch, f"phir_{tag}", tag)
    cx = 2.0 * math.sqrt(2.0) / math.pi
    cy = math.sqrt(2.0)
    x = f"({_f(a * cx)} * lamr_{tag} * cos({th}))"
    y = f"({_f(a * cy)} * sin({th}))"
    return x, y


def sql_tpers_fwd(lon: str, lat: str, proj: str) -> tuple[str, str]:
    """Tilted perspective forward (dialect pair: kernels.nsper_fwd with
    the tilt branch): the nsper core at unit-sphere scale, then the
    camera tilt/azimuth transform, then the radius scale — the same
    operation order as the kernel, so the battery rounds match.

    Caller's point domain must stay inside the horizon circle
    cos(c) >= 1/P AND keep the tilt denominator yt*sw/pn1 + cw
    positive (true for any moderate tilt over an in-view band) — the
    kernel NaN-masks beyond the horizon, this SQL mirror does not."""
    import math

    from . import kernels as K
    from .crs import parse_proj_string

    params = parse_proj_string(proj)[0]
    a, _es = K.ellipsoid(params)
    P = K.nsper_setup(params, a, 0.0)
    if not P["tilt"]:
        raise ValueError("sql_tpers_fwd expects a tilted (+tilt/+azi) "
                         "string; use sql_nsper_fwd for the vertical "
                         "perspective")
    lam0 = math.radians(float(params.get("lon_0", 0.0)))
    sp0, cp0 = P["sp0"], P["cp0"]
    lam = f"(radians({lon}) - {_f(lam0)})"
    phi = f"radians({lat})"
    sp, cp = f"sin({phi})", f"cos({phi})"
    cosc = f"({_f(sp0)}*{sp} + {_f(cp0)}*{cp}*cos({lam}))"
    k = f"({_f(P['pn1'])} / ({_f(P['p'])} - {cosc}))"
    x = f"({k} * {cp} * sin({lam}))"
    y = f"({k} * ({_f(cp0)}*{sp} - {_f(sp0)}*{cp}*cos({lam})))"
    yt = f"({y}*{_f(P['cg'])} + {x}*{_f(P['sg'])})"
    ba = f"(1.0 / ({yt}*{_f(P['sw'] * P['h1'])} + {_f(P['cw'])}))"
    xt = f"(({x}*{_f(P['cg'])} - {y}*{_f(P['sg'])}) * {_f(P['cw'])} * {ba})"
    return f"({_f(a)} * {xt})", f"({_f(a)} * {yt} * {ba})"
