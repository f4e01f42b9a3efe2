"""Mollweide kernel: dual-engine exactness is covered by the q56 oracle gate;
here we pin (a) accuracy against a library-trig reference and (b) the
level-grouping property that keeps both engines' plans linear."""

import math

from pyspark.sql import functions as F

from osm_processing_pipeline_spark import worldspec as W
from osm_processing_pipeline_spark.functions import cells
from osm_processing_pipeline_spark.functions import projection as P


def _true_mollweide(lon: float, lat: float) -> tuple[float, float]:
    phi = math.radians(W.GEO_LAT0_DEG + lat)
    lam = math.radians(W.GEO_LON0_DEG + lon)
    t = phi
    for _ in range(60):
        t = t - (2 * t + math.sin(2 * t) - math.pi * math.sin(phi)) \
            / (2 + 2 * math.cos(2 * t))
    return (W.MOLL_R * 2 * math.sqrt(2) / math.pi * lam * math.cos(t),
            W.MOLL_R * math.sqrt(2) * math.sin(t))


def _eval_steps(steps, env):
    def ev(e):
        if e.kind == "lit":
            return e.args[0]
        if e.kind == "ref":
            return env[e.args[0]]
        a, b = ev(e.args[0]), ev(e.args[1])
        if e.kind == "add":
            return a + b
        if e.kind == "sub":
            return a - b
        if e.kind == "mul":
            return a * b
        return a / b

    for name, e in steps:
        env[name] = ev(e)
    return env


def test_mollweide_kernel_accuracy_sub_mm():
    """Taylor + 3-Newton must sit far inside the mm quantization across the
    whole world window (corners + center)."""
    for lon, lat in [(0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0),
                     (0.5, 0.5), (0.25, 0.75)]:
        env = _eval_steps(P.mollweide_steps("p", "lon", "lat"),
                          {"lon": lon, "lat": lat})
        tx, ty = _true_mollweide(lon, lat)
        assert abs(env["p_x"] - tx) < 1e-3, (lon, lat)
        assert abs(env["p_y"] - ty) < 1e-3, (lon, lat)


def test_authalic_mollweide_accuracy_sub_cm():
    """Ellipsoidal 54009: the Snyder-series authalic kernel must agree with
    the EXACT ellipsoidal form (authalic latitude from the closed-form q
    function, authalic radius from q_p) to < 1 cm — the documented O(e^8)
    truncation budget.  Also pins the R_q constant against its defining
    formula."""
    e2 = W.MOLL_E2
    e = math.sqrt(e2)

    def q(phi):
        s = math.sin(phi)
        return (1 - e2) * (s / (1 - e2 * s * s)
                           - (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s)))

    qp = q(math.pi / 2)
    rq = 6378137.0 * math.sqrt(qp / 2)
    assert abs(rq - W.MOLL_RQ) < 1e-3

    for lon, lat in [(0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0),
                     (0.5, 0.5), (0.25, 0.75)]:
        env = _eval_steps(P.mollweide_authalic_steps("p", "lon", "lat"),
                          {"lon": lon, "lat": lat})
        phi = math.radians(W.GEO_LAT0_DEG + lat)
        lam = math.radians(W.GEO_LON0_DEG + lon)
        beta = math.asin(q(phi) / qp)
        t = beta
        for _ in range(60):
            t = t - (2 * t + math.sin(2 * t) - math.pi * math.sin(beta)) \
                / (2 + 2 * math.cos(2 * t))
        tx = rq * 2 * math.sqrt(2) / math.pi * lam * math.cos(t)
        ty = rq * math.sqrt(2) * math.sin(t)
        assert abs(env["p_x"] - tx) < 1e-2, (lon, lat)
        assert abs(env["p_y"] - ty) < 1e-2, (lon, lat)


def test_utm_kernel_accuracy_sub_cm():
    """EPSG:32643 Redfearn kernel vs the Karney 6th-order-n flattening
    series (nanometre-accurate at this window) — the A^7 truncation plus
    the binomial nu must stay < 1 cm across the world window."""
    a = 6378137.0
    f = 1.0 / 298.257223563
    e2 = f * (2 - f)
    e = math.sqrt(e2)
    n = f / (2 - f)
    A_ = a / (1 + n) * (1 + n**2 / 4 + n**4 / 64 + n**6 / 256)
    al = [0.0,
          n / 2 - 2 * n**2 / 3 + 5 * n**3 / 16 + 41 * n**4 / 180
          - 127 * n**5 / 288 + 7891 * n**6 / 37800,
          13 * n**2 / 48 - 3 * n**3 / 5 + 557 * n**4 / 1440
          + 281 * n**5 / 630 - 1983433 * n**6 / 1935360,
          61 * n**3 / 240 - 103 * n**4 / 140 + 15061 * n**5 / 26880
          + 167603 * n**6 / 181440,
          49561 * n**4 / 161280 - 179 * n**5 / 168 + 6601661 * n**6 / 7257600,
          34729 * n**5 / 80640 - 3418889 * n**6 / 1995840,
          212378941 * n**6 / 319334400]

    def karney(lon_deg, lat_deg):
        phi = math.radians(lat_deg)
        lam = math.radians(lon_deg - W.UTM_LON0_DEG)
        t = math.sinh(math.atanh(math.sin(phi))
                      - e * math.atanh(e * math.sin(phi)))
        xip = math.atan2(t, math.cos(lam))
        etap = math.asinh(math.sin(lam) / math.hypot(t, math.cos(lam)))
        xi = xip + sum(al[j] * math.sin(2 * j * xip) * math.cosh(2 * j * etap)
                       for j in range(1, 7))
        eta = etap + sum(al[j] * math.cos(2 * j * xip) * math.sinh(2 * j * etap)
                         for j in range(1, 7))
        return W.UTM_FE + W.UTM_K0 * A_ * eta, W.UTM_K0 * A_ * xi

    for lon, lat in [(0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0),
                     (0.5, 0.5), (0.25, 0.75)]:
        env = _eval_steps(P.utm_steps("p", "lon", "lat"),
                          {"lon": lon, "lat": lat})
        te, tn = karney(W.GEO_LON0_DEG + lon, W.GEO_LAT0_DEG + lat)
        assert abs(env["p_e"] - te) < 1e-2, (lon, lat, env["p_e"] - te)
        assert abs(env["p_n"] - tn) < 1e-2, (lon, lat, env["p_n"] - tn)


def test_mercator_kernel_accuracy_sub_um():
    """x = R*lam is algebraically exact; y = R*atanh(sin phi) through the
    truncated sin/atanh series must sit far inside the mm quantization —
    the truncation budget (< 1 um) across the whole world window."""
    for lon, lat in [(0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0),
                     (0.5, 0.5), (0.25, 0.75)]:
        env = _eval_steps(P.mercator_steps("p", "lon", "lat"),
                          {"lon": lon, "lat": lat})
        phi = math.radians(W.GEO_LAT0_DEG + lat)
        lam = math.radians(W.GEO_LON0_DEG + lon)
        assert abs(env["p_x"] - W.MERC_R * lam) < 1e-6, (lon, lat)
        assert abs(env["p_y"] - W.MERC_R * math.atanh(math.sin(phi))) \
            < 1e-6, (lon, lat)


def test_micro_cover_ring_completeness(spark):
    """q59's candidate generation: a point within cover_deg (< 1/M) of a
    segment must share a micro-cell between its 3x3 ring and the segment's
    UNexpanded bbox cover.  Python mirror of the clamped floor arithmetic
    of functions/cells (kring_of_point, bbox_cover at m = M) over a
    deterministic sweep of near-threshold geometries (including world-border
    clamps); the real Column functions must return the mirror's sets."""
    M = 512

    def clamp(v):
        return max(0, min(M - 1, math.floor(v * M)))

    def ring(x, y):
        mi, mj = clamp(x), clamp(y)
        return {(j * M + i)
                for dj in (-1, 0, 1) for di in (-1, 0, 1)
                if 0 <= (i := mi + di) < M and 0 <= (j := mj + dj) < M}

    def bbox_cover(x0, y0, x1, y1):
        return {(j * M + i)
                for j in range(clamp(y0), clamp(y1) + 1)
                for i in range(clamp(x0), clamp(x1) + 1)}

    dd = 150.0 / (6378137.0 * math.pi / 180.0)   # q59's cover_deg ~0.00135
    assert dd < 1.0 / M
    cases = []
    for k in range(200):
        ax = (k * 131 % 1024) / 1024.0
        ay = (k * 197 % 1024) / 1024.0
        bx = min(1.0, ax + (k % 7) * 0.0007)
        by = max(0.0, ay - (k % 5) * 0.0009)
        # points at just under the radius from an endpoint, in 8 directions
        for th in range(8):
            px = ax + 0.999 * dd * math.cos(th * math.pi / 4)
            py = ay + 0.999 * dd * math.sin(th * math.pi / 4)
            if 0.0 <= px <= 1.0 and 0.0 <= py <= 1.0:
                cases.append((ax, ay, bx, by, px, py))
    cases += [(0.0, 0.0, 0.001, 0.0, 0.0005, 0.0005),      # border clamp
              (0.0, 0.0, 0.001, 0.0, -0.0005, 0.0005),     # outside, clamped
              (0.9995, 0.9995, 1.0, 1.0, 0.9999, 0.9993)]
    assert len(cases) > 1000
    want = []
    for ax, ay, bx, by, px, py in cases:
        s = bbox_cover(min(ax, bx), min(ay, by), max(ax, bx), max(ay, by))
        assert ring(px, py) & s, (ax, ay, bx, by, px, py)
        want.append((ring(px, py), s))

    c = F.col
    got = spark.createDataFrame(
        cases, "ax double, ay double, bx double, by double, "
               "px double, py double").select(
        cells.kring_of_point(c("px"), c("py"), M).alias("ring"),
        cells.bbox_cover(F.least("ax", "bx"), F.least("ay", "by"),
                         F.greatest("ax", "bx"), F.greatest("ay", "by"),
                         M).alias("cover")).collect()
    for case, (ring_want, cover_want), row in zip(cases, want, got):
        assert len(row.ring) == len(set(row.ring)), case
        assert (set(row.ring), set(row.cover)) == (ring_want, cover_want), case


def test_step_levels_linear_not_exponential():
    """Every step lands on exactly one level, deps strictly earlier, and the
    rendered SQL stays linear in the step count (the lateral-alias form was
    measured exponential in the Newton depth)."""
    steps = P.mollweide_steps("p", "lon", "lat")
    levels = P.step_levels(steps)
    assert sum(len(lv) for lv in levels) == len(steps)
    seen = set()
    for lv in levels:
        for name, e in lv:
            deps = set()
            P._refs(e, deps)
            assert deps <= seen | {"lon", "lat"}, name
        seen |= {name for name, _ in lv}
    sql = P.steps_sql_from(steps, "base")
    assert len(sql) < 20_000
