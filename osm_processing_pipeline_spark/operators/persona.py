"""Persona v2 composite — the reference's headline output, chained end-to-end.

Composes the upstream modules exactly the way every reference runner does
(scripts/dev-runs/persona_v2_run.py:344-495): classification setting (q01),
HAdj-upgraded road type (q09 + 07_assign_final_road_classification.sql),
fourlane (fourlane_run.py), twistiness (q08), intersection degradation (q28),
urban pressure at the road's representative tile (q02+q12), scenery flags
(q03/q04 + river), and WorldCover buffer fractions (q45) — into the ten
0-1 parameter scores of sql/road_persona_v2/01_compute_parameter_scores.sql:
14-165 (TWIST_SAT = 0.54), the four persona scores of
02_compute_persona_scores.sql:15-60, and the global min/max normalization of
03_normalize_persona_scores.sql:25-63.

Exactness strategy: every formula is defined ONCE as a SQL string template
rendered with an engine-specific float-literal function (``spark_fl`` emits
``0.54D``, the oracle's ``fl`` emits ``0.54e0``), so the Spark expression
tree (via F.expr) and the DuckDB tree are structurally identical — each
IEEE op is correctly rounded on identical operands, hence bit-identical
results.  POWER() is avoided (not correctly rounded): cubes/squares are
written as explicit products.  Outputs are quantized to integer micro-units.

The stages run as a ladder (each stage's columns read the previous
stage's), rendered once by ``ladder_ctes``; ``v2_ladder`` / ``v1_ladder``
name each composite's stages and ``v2_outputs`` / ``v1_outputs`` its output
columns, so the Spark builders and their DuckDB twins share all four.
"""

from __future__ import annotations

from collections.abc import Callable


def spark_fl(x: float) -> str:
    """Spark SQL double literal (the ``D`` suffix avoids DECIMAL parsing)."""
    return repr(float(x)) + "D"


def ladder_ctes(stages: tuple[dict[str, str], ...], base: str
                ) -> tuple[str, str]:
    """The ladder as one CTE chain over relation ``base``:
    ``_s0 AS (SELECT *, e AS c FROM base)``, then ``_s1`` over ``_s0`` and
    so on.  Returns the chain's text and the name of its last stage."""
    ctes, prev = [], base
    for i, stage in enumerate(stages):
        cols = ",\n       ".join(f"{e} AS {c}" for c, e in stage.items())
        ctes.append(f"_s{i} AS (SELECT *,\n       {cols}\nFROM {prev})")
        prev = f"_s{i}"
    return ",\n".join(ctes), prev


# Parameter-score CASE tables over the engine's road_type_v2 vocabulary
# (01_compute_parameter_scores.sql:24-78; HW plays the reference's OH slot).
CRUISE = {"NH": 1.0, "SH": 0.9, "HW": 0.9, "MDR": 0.9, "WoH": 0.2,
          "Res": 0.2, "HAdj": 0.6, "Track": 0.0, "Path": 0.0}
CRUISE_ELSE = 0.25
OFFROAD = {"NH": 0.2, "SH": 0.2, "HW": 0.2, "MDR": 0.2, "WoH": 0.8,
           "Res": 0.4, "HAdj": 0.4, "Track": 1.0, "Path": 0.9}
OFFROAD_ELSE = 0.2
CALM = {"NH": 0.3, "SH": 0.8, "HW": 0.9, "MDR": 1.0, "WoH": 0.5,
        "Res": 0.3, "HAdj": 0.3, "Track": 0.3, "Path": 0.1}
CALM_ELSE = 0.5
TWIST_SAT = 0.54


def road_type_v2_expr() -> str:
    """Finalized road type incl. the HAdj endpoint upgrade
    (07_assign_final_road_classification.sql:13-97; engine-neutral SQL)."""
    return ("CASE WHEN ref IS NOT NULL AND upper(ref) LIKE '%NH%' THEN 'NH' "
            "WHEN ref IS NOT NULL AND upper(ref) LIKE '%SH%' THEN 'SH' "
            "WHEN ref IS NOT NULL AND upper(ref) LIKE '%MDR%' THEN 'MDR' "
            "WHEN highway IN ('motorway', 'trunk') THEN 'HW' "
            "WHEN hadj_upgrade THEN 'HAdj' "
            "WHEN highway = 'residential' THEN 'Res' "
            "WHEN highway = 'track' THEN 'Track' "
            "WHEN highway IN ('path', 'footway') THEN 'Path' "
            "ELSE 'WoH' END")


def _case(col: str, mapping: dict, els: float, fl) -> str:
    whens = " ".join(f"WHEN '{k}' THEN {fl(v)}" for k, v in mapping.items())
    return f"CASE {col} {whens} ELSE {fl(els)} END"


def derived_exprs(fl) -> dict[str, str]:
    """Stage 2: exact-integer inputs -> the doubles the formulas consume.
    Input columns: twist_permille, final_red_ppm (nullable), pressure_micro,
    near_hill/near_river/in_lake (bool), forest_px/field_px/total_px."""
    frac = ("CASE WHEN total_px = 0 THEN {z} "
            "ELSE CAST({c} AS DOUBLE) / CAST(total_px AS DOUBLE) END")
    return {
        "twistiness": f"CAST(twist_permille AS DOUBLE) / {fl(1000.0)}",
        "deg": (f"{fl(1.0)} - CAST(COALESCE(final_red_ppm, 0) AS DOUBLE)"
                f" / {fl(1.0e6)}"),
        "pressure": f"CAST(pressure_micro AS DOUBLE) / {fl(1.0e6)}",
        "hill_i": f"CASE WHEN near_hill THEN {fl(1.0)} ELSE {fl(0.0)} END",
        "river_i": f"CASE WHEN near_river THEN {fl(1.0)} ELSE {fl(0.0)} END",
        "lake_i": f"CASE WHEN in_lake THEN {fl(1.0)} ELSE {fl(0.0)} END",
        "forest_frac": frac.format(z=fl(0.0), c="forest_px"),
        "field_frac": frac.format(z=fl(0.0), c="field_px"),
    }


def param_exprs(fl) -> dict[str, str]:
    """Stage 3: the ten 0-1 parameter scores
    (01_compute_parameter_scores.sql:14-165)."""
    four = "fourlane = 'yes'"
    semi = "road_setting = 'Semi_Urban'"
    hill = f"hill_i = {fl(1.0)}"
    river = f"river_i = {fl(1.0)}"
    lake = f"lake_i = {fl(1.0)}"
    return {
        "score_urban_gate":
            f"CASE WHEN road_setting = 'Urban' THEN {fl(0.0)} "
            f"ELSE {fl(1.0)} END",
        "score_cruise_road":
            f"({_case('road_type_v2', CRUISE, CRUISE_ELSE, fl)}) * "
            f"(CASE WHEN {four} THEN {fl(1.0)} ELSE {fl(0.8)} END)",
        "score_offroad":
            f"({_case('road_type_v2', OFFROAD, OFFROAD_ELSE, fl)}) * "
            f"(CASE WHEN {four} THEN {fl(0.2)} ELSE {fl(1.0)} END) * "
            f"(CASE WHEN {semi} THEN {fl(0.8)} ELSE {fl(1.0)} END)",
        "score_calm_road":
            f"({_case('road_type_v2', CALM, CALM_ELSE, fl)}) * "
            f"(CASE WHEN {four} THEN {fl(0.9)} ELSE {fl(1.0)} END) * "
            f"(CASE WHEN {semi} THEN {fl(0.8)} ELSE {fl(1.0)} END)",
        # A5 flow / A6 remoteness: POWER() is not correctly rounded — keep
        # the clamped base as a column and cube/square it with products.
        "flow_x":
            f"GREATEST({fl(0.0)}, LEAST({fl(1.0)}, "
            f"{fl(2.0)} * deg - {fl(1.0)}))",
        "rem_y":
            f"GREATEST({fl(0.0)}, LEAST({fl(1.0)}, {fl(1.0)} - pressure))",
        "score_twist":
            f"LEAST({fl(1.0)}, LEAST(twistiness / {fl(TWIST_SAT)}, {fl(1.0)})"
            f" * (CASE WHEN {hill} THEN {fl(1.0)} ELSE {fl(0.8)} END))",
        "score_scenic_wild":
            f"LEAST({fl(1.0)}, "
            f"{fl(0.9)} * forest_frac + {fl(0.1)} * field_frac + "
            f"{fl(0.2)} * hill_i + {fl(0.1)} * river_i + {fl(0.1)} * lake_i"
            f" + (CASE WHEN forest_frac >= {fl(0.35)} AND {hill} "
            f"THEN {fl(0.25)} ELSE {fl(0.0)} END)"
            f" + (CASE WHEN forest_frac >= {fl(0.35)} AND {river} "
            f"THEN {fl(0.18)} ELSE {fl(0.0)} END)"
            f" + (CASE WHEN {lake} AND ({hill} OR field_frac >= {fl(0.35)}) "
            f"THEN {fl(0.12)} ELSE {fl(0.0)} END))",
        "score_scenic_serene":
            f"LEAST({fl(1.0)}, "
            f"{fl(0.35)} * lake_i + {fl(0.25)} * river_i + "
            f"{fl(0.15)} * hill_i + {fl(0.1)} * field_frac + "
            f"{fl(0.05)} * forest_frac"
            f" + (CASE WHEN {lake} THEN {fl(0.15)} ELSE {fl(0.0)} END)"
            f" + (CASE WHEN {river} AND ({hill} OR forest_frac >= {fl(0.35)})"
            f" THEN {fl(0.1)} ELSE {fl(0.0)} END)"
            f" + (CASE WHEN field_frac >= {fl(0.35)} AND ({lake} OR {river})"
            f" THEN {fl(0.08)} ELSE {fl(0.0)} END))",
        "score_scenic_fast":
            f"LEAST({fl(1.0)}, "
            f"{fl(0.35)} * hill_i + {fl(0.3)} * river_i + "
            f"{fl(0.25)} * lake_i + {fl(0.1)} * forest_frac)",
    }


def param2_exprs(fl) -> dict[str, str]:
    return {
        "score_flow": "flow_x * flow_x * flow_x",
        "score_remoteness": "rem_y * rem_y",
    }


def persona_exprs(fl) -> dict[str, str]:
    """Stage 4: the four persona compositions
    (02_compute_persona_scores.sql:15-60)."""
    def clamp(x: str) -> str:
        return f"GREATEST({fl(0.0)}, LEAST({fl(1.0)}, {x}))"

    return {
        "mm": clamp(
            "score_urban_gate * score_cruise_road * score_flow * "
            f"({fl(1.0)} - {fl(0.35)} * score_twist) * "
            f"({fl(0.92)} + {fl(0.08)} * score_scenic_fast) * "
            f"({fl(0.7)} + {fl(0.3)} * ({fl(1.0)} - score_remoteness))"),
        "cc": clamp(
            "score_urban_gate * score_twist * "
            f"({fl(0.8)} + {fl(0.2)} * score_flow) * "
            f"({fl(1.0)} - {fl(0.5)} * score_offroad) * "
            f"({fl(0.94)} + {fl(0.06)} * score_scenic_fast) * "
            f"({fl(0.6)} + {fl(0.4)} * score_remoteness)"),
        "tb": clamp(
            f"score_urban_gate * ({fl(0.3)} + {fl(0.7)} * score_offroad) * "
            "score_remoteness * "
            f"({fl(0.2)} + {fl(0.8)} * score_scenic_wild)"),
        "tt": clamp(
            "score_urban_gate * score_calm_road * "
            f"({fl(0.5)} + {fl(0.5)} * score_flow) * "
            f"({fl(0.5)} + {fl(0.5)} * score_scenic_serene) * "
            f"({fl(0.6)} + {fl(0.4)} * score_remoteness)"),
    }


def norm_expr(fl, s: str, mn: str, mx: str) -> str:
    """Global min/max normalization with clamp
    (03_normalize_persona_scores.sql:25-63); degenerate range -> 0."""
    return (f"CASE WHEN {mx} > {mn} THEN GREATEST({fl(0.0)}, LEAST({fl(1.0)},"
            f" ({s} - {mn}) / ({mx} - {mn}))) ELSE {fl(0.0)} END")


def quant(fl, x: str) -> str:
    """Micro-unit output quantization (exact on identical doubles)."""
    return f"CAST(floor(({x}) * {fl(1.0e6)}) AS BIGINT)"


PARAM_COLS = ["score_urban_gate", "score_cruise_road", "score_offroad",
              "score_calm_road", "score_flow", "score_remoteness",
              "score_twist", "score_scenic_wild", "score_scenic_serene",
              "score_scenic_fast"]
PERSONA_COLS = ["mm", "cc", "tb", "tt"]


def v2_ladder(fl) -> tuple[dict[str, str], ...]:
    """The v2 stages in order: derived inputs, parameter scores, the
    flow/remoteness products, personas."""
    return (derived_exprs(fl), param_exprs(fl), param2_exprs(fl),
            persona_exprs(fl))


def bound_aggs() -> list[str]:
    """Each persona's global MIN and MAX as ``<c>_mn`` / ``<c>_mx``."""
    return [f"{agg}({c}) AS {c}_{sfx}" for c in PERSONA_COLS
            for agg, sfx in (("MIN", "mn"), ("MAX", "mx"))]


def v2_outputs(fl, bound: Callable[[str], str]) -> list[str]:
    """The v2 output columns as ``expr AS name``: parameter scores drop
    ``score_`` / ``scenic_`` and gain ``_micro``; personas gain ``_micro``
    and, normalized, ``_norm_micro``.  ``bound`` spells a ``bound_aggs``
    column: a literal collected on the driver, or a column of the twin's
    bounds row."""
    def norm(c: str) -> str:
        return norm_expr(fl, c, bound(f"{c}_mn"), bound(f"{c}_mx"))

    return (["osm_id", "road_type_v2", "fourlane"]
            + [f"{quant(fl, c)} AS "
               f"{c.replace('score_', '').replace('scenic_', '')}_micro"
               for c in PARAM_COLS]
            + [f"{quant(fl, c)} AS {c}_micro" for c in PERSONA_COLS]
            + [f"{quant(fl, norm(c))} AS {c}_norm_micro"
               for c in PERSONA_COLS])


# ---------------------------------------------------------------- v1 simplified
# The Phase-1 "simplified framework" (sql/road_persona/
# 01_compute_persona_base_scores_simplified.sql): 2-3 factors per persona,
# plain 0-1 factor scores, weighted averages, direct 0-100 scaling with an
# Urban hard gate and a 25% SemiUrban penalty — no percentile normalization.
# Inputs: road_type_i1 (the reference's OH slot is this engine's 'HW'),
# lanes_n (parse_lanes — digits concatenated, NULL when none, :20-28),
# twist_permille (never NULL here: the engine's twist pass covers every
# road, so the reference's twist-IS-NULL fallbacks are unreachable),
# road_setting, surface (this world's vocabulary hits the asphalt/paved/
# concrete, gravel and dirt ladders; the paving-stone branch is kept for
# formula parity but cannot fire), geo_len_um (geography-mode length,
# stands in for ST_Length(geometry::geography), :82) and n_scenery
# (count of the six road_scenery_* flags, :107-132).

V1_SHORT_UM = 500_000_000    # 0.5 km in length micro-units (:82)


def v1_factor_exprs(fl) -> dict[str, str]:
    """Factors 1-8 (:36-146), one column each."""
    tw = f"(CAST(twist_permille AS DOUBLE) / {fl(1000.0)})"
    return {
        # FACTOR 1 (:40-49) — road quality, lanes-aware highway ladder
        "f_road_quality": (
            f"CASE WHEN road_type_i1 NOT IN ('NH', 'SH', 'MDR', 'HW') THEN {fl(0.0)} "
            f"WHEN road_type_i1 = 'NH' AND COALESCE(lanes_n, 0) >= 2 THEN {fl(1.0)} "
            f"WHEN road_type_i1 = 'NH' THEN {fl(0.8)} "
            f"WHEN road_type_i1 = 'SH' AND COALESCE(lanes_n, 0) >= 2 THEN {fl(0.7)} "
            f"WHEN road_type_i1 = 'SH' THEN {fl(0.6)} "
            f"WHEN COALESCE(lanes_n, 0) >= 2 THEN {fl(0.5)} "
            f"ELSE {fl(0.4)} END"),
        # FACTOR 2 (:54-57) — straightness, 0.20 twistiness cap
        "f_straightness": (
            f"GREATEST({fl(0.0)}, {fl(1.0)} - LEAST({fl(1.0)}, "
            f"{tw} / {fl(0.20)}))"),
        # FACTOR 3 (:62-67) — low stress by setting
        "f_low_stress": (
            f"CASE road_setting WHEN 'Rural' THEN {fl(1.0)} "
            f"WHEN 'Semi_Urban' THEN {fl(0.6)} "
            f"WHEN 'Urban' THEN {fl(0.2)} ELSE {fl(0.5)} END"),
        # FACTOR 4 (:72-75) — twistiness, 0.15 saturation
        "f_twistiness": f"LEAST({fl(1.0)}, {tw} / {fl(0.15)})",
        # FACTOR 5 (:80-90) — surface quality, short+unknown penalized.
        # Value list and LOWER() normalization mirror the reference verbatim
        # (:82-87, incl. 'concrete:lanes'/'concrete:plates') — identical on
        # this world's lowercase surface vocabulary, faithful beyond it.
        "f_surface_quality": (
            f"CASE WHEN surface IS NULL AND geo_len_um < {V1_SHORT_UM} "
            f"THEN {fl(0.3)} "
            f"WHEN surface IS NULL THEN {fl(0.5)} "
            f"WHEN LOWER(surface) IN ('asphalt', 'paved', 'concrete', "
            f"'concrete:lanes', 'concrete:plates') THEN {fl(1.0)} "
            f"WHEN LOWER(surface) IN ('paving_stones', 'sett', "
            f"'cobblestone') THEN {fl(0.7)} "
            f"WHEN LOWER(surface) IN ('compacted', 'fine_gravel', 'gravel') "
            f"THEN {fl(0.4)} "
            f"WHEN LOWER(surface) IN ('dirt', 'earth', 'ground', 'mud', "
            f"'sand', 'unpaved') THEN {fl(0.1)} "
            f"ELSE {fl(0.5)} END"),
        # FACTOR 6 (:95-101) — exploration by road type
        "f_exploration": (
            f"CASE WHEN road_type_i1 IN ('Track', 'Path') THEN {fl(1.0)} "
            f"WHEN road_type_i1 = 'WoH' THEN {fl(0.6)} "
            f"WHEN road_type_i1 IN ('MDR', 'HW') THEN {fl(0.5)} "
            f"WHEN road_type_i1 = 'SH' THEN {fl(0.3)} "
            f"WHEN road_type_i1 = 'NH' THEN {fl(0.1)} "
            f"WHEN road_type_i1 = 'HAdj' THEN {fl(0.2)} "
            f"ELSE {fl(0.5)} END"),
        # FACTOR 7 (:107-132) — scenery: >= 2 flags scale to n/3, 1 flag 0.3
        "f_scenery": (
            f"CASE WHEN n_scenery >= 2 "
            f"THEN LEAST({fl(1.0)}, CAST(n_scenery AS DOUBLE) / {fl(3.0)}) "
            f"WHEN n_scenery = 1 THEN {fl(0.3)} ELSE {fl(0.0)} END"),
        # FACTOR 8 (:137-145) — moderate roads for TranquilTraveller
        "f_moderate_roads": (
            f"CASE WHEN road_type_i1 = 'WoH' THEN {fl(0.0)} "
            f"WHEN road_type_i1 = 'NH' THEN {fl(0.3)} "
            f"WHEN road_type_i1 IN ('MDR', 'SH', 'HW') THEN {fl(1.0)} "
            f"WHEN road_type_i1 = 'HAdj' THEN {fl(0.4)} "
            f"WHEN road_type_i1 IN ('Track', 'Path') THEN {fl(0.6)} "
            f"ELSE {fl(0.5)} END"),
    }


def v1_raw_exprs(fl) -> dict[str, str]:
    """Weighted combinations with the Urban hard gate (:162-213; the
    weights follow the CODE, not the stale comments — e.g. MileMuncher is
    0.60/0.20/0.20)."""
    def gate(body: str) -> str:
        return (f"CASE WHEN road_setting = 'Urban' THEN {fl(0.0)} "
                f"ELSE ({body}) END")

    return {
        "v1_milemuncher": gate(
            f"{fl(0.60)} * f_road_quality + {fl(0.20)} * f_straightness "
            f"+ {fl(0.20)} * f_low_stress"),
        "v1_cornercraver": gate(
            f"{fl(0.40)} * f_twistiness + {fl(0.45)} * f_road_quality "
            f"+ {fl(0.10)} * f_low_stress + {fl(0.05)} * f_surface_quality"),
        "v1_trailblazer": gate(
            f"{fl(0.50)} * f_exploration + {fl(0.25)} * f_scenery "
            f"+ {fl(0.25)} * f_low_stress"),
        "v1_tranquiltraveller": gate(
            f"{fl(0.45)} * f_scenery + {fl(0.30)} * f_low_stress "
            f"+ {fl(0.25)} * f_moderate_roads"),
    }


def v1_base_exprs(fl) -> dict[str, str]:
    """Direct 0-100 scaling with the 25% SemiUrban reduction (:217-250)."""
    def base(raw: str) -> str:
        return (f"CASE WHEN road_setting = 'Semi_Urban' THEN "
                f"LEAST({fl(100.0)}, GREATEST({fl(0.0)}, "
                f"{raw} * {fl(100.0)} * {fl(0.75)})) "
                f"ELSE LEAST({fl(100.0)}, GREATEST({fl(0.0)}, "
                f"{raw} * {fl(100.0)})) END")

    return {f"{c}_base": base(c) for c in V1_PERSONA_COLS}


V1_FACTOR_COLS = ["f_road_quality", "f_straightness", "f_low_stress",
                  "f_twistiness", "f_surface_quality", "f_exploration",
                  "f_scenery", "f_moderate_roads"]
V1_PERSONA_COLS = ["v1_milemuncher", "v1_cornercraver", "v1_trailblazer",
                   "v1_tranquiltraveller"]


def v1_ladder(fl) -> tuple[dict[str, str], ...]:
    """The v1 stages in order: factors, gated raw personas, 0-100 bases."""
    return v1_factor_exprs(fl), v1_raw_exprs(fl), v1_base_exprs(fl)


def v1_outputs(fl) -> list[str]:
    """The v1 output columns as ``expr AS name``: factors drop ``f_``,
    bases drop ``v1_``; both gain ``_micro``."""
    return (["osm_id", "road_type_i1", "CAST(n_scenery AS BIGINT) AS n_scenery"]
            + [f"{quant(fl, c)} AS {c[2:]}_micro" for c in V1_FACTOR_COLS]
            + [f"{quant(fl, f'{c}_base')} AS {c.replace('v1_', '')}_base_micro"
               for c in V1_PERSONA_COLS])
