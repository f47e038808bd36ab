"""Pre-built custom-criteria templates as SQL expression text.

Reference: ``bid_evaluation/custom_templates.py`` — six pandas template
functions plus a UI-renderable registry with parameter schemas
(``custom_templates.py:170-258``). Here every template emits a SQL
expression over the value column (no UDF, stays in whole-stage codegen);
the registry preserves the same names, defaults and parameter metadata so
demo-style configs using the ``template`` criterion vocabulary work
unchanged.

Each template is ``(value_sql, stats, **params) -> str``: ``value_sql`` is the
value column's SQL text and ``stats`` maps statistic names to SQL text or
numbers. All templates return scores clipped to [0, 100] exactly like the
reference (pandas ``.clip(0, 100)`` ⇒ ``least(greatest(x, 0), 100)``, NaN kept).
"""

from __future__ import annotations

from typing import Any, Callable, Dict, Mapping, Optional

from .sql import double, num, value

Stats = Mapping[str, Any]


def _clip01_100(x: str) -> str:
    # pandas clip keeps NaN; Spark's least/greatest order NaN above 100
    return f"CASE WHEN isnan({x}) THEN {x} ELSE least(greatest({x}, 0.0D), 100.0D) END"


def _above(x: str, t: str, op: str = ">") -> str:
    # numpy: NaN compares false; Spark orders NaN above every number
    return f"({x} {op} {t}) AND NOT isnan({x})"


def budget_proximity(v: str, stats: Stats, target: float = 100000) -> str:
    """Closeness to a target budget (reference ``custom_templates.py:11-25``):
    ``clip((1 - |v - target| / target) * 100, 0, 100)``."""
    t = num(target)
    deviation = f"(abs(({double(v)} - {t})) / {t})"
    return _clip01_100(f"((1.0D - {deviation}) * 100.0D)")


def sweet_spot_range(v: str, stats: Stats,
                     min_ideal: float = 30, max_ideal: float = 60) -> str:
    """100 inside [min_ideal, max_ideal], linear falloff outside, clipped
    (reference ``custom_templates.py:28-57``)."""
    x = double(v)
    lo, hi = num(min_ideal), num(max_ideal)
    below = _clip01_100(f"(100.0D - ((({lo} - {x}) / {lo}) * 100.0D))")
    above = _clip01_100(f"(100.0D - ((({x} - {hi}) / {hi}) * 100.0D))")
    return (f"CASE WHEN ({x} < {lo}) THEN {below} WHEN ({_above(x, hi)}) THEN {above} "
            f"ELSE 100.0D END")


def penalty_function(v: str, stats: Stats, base_score: float = 100,
                     threshold: float = 50, penalty_per_unit: float = 2) -> str:
    """Base score minus penalties above a threshold, clipped
    (reference ``custom_templates.py:60-82``)."""
    x = double(v)
    base, t, p = num(base_score), num(threshold), num(penalty_per_unit)
    return _clip01_100(
        f"CASE WHEN ({_above(x, t)}) THEN ({base} - (({x} - {t}) * {p})) ELSE {base} END")


def bonus_tiers(v: str, stats: Stats, base_score: float = 50,
                tier1_threshold: float = 5, tier1_bonus: float = 20,
                tier2_threshold: float = 10, tier2_bonus: float = 30) -> str:
    """Base score plus cumulative tier bonuses, clipped
    (reference ``custom_templates.py:85-115``)."""
    x = double(v)
    tier1 = f"CASE WHEN ({_above(x, num(tier1_threshold), '>=')}) THEN {num(tier1_bonus)} ELSE 0.0D END"
    tier2 = f"CASE WHEN ({_above(x, num(tier2_threshold), '>=')}) THEN {num(tier2_bonus)} ELSE 0.0D END"
    return _clip01_100(f"(({num(base_score)} + {tier1}) + {tier2})")


def percentage_of_best(v: str, stats: Stats, higher_is_better: bool = True) -> str:
    """Percentage relative to the best value, clipped
    (reference ``custom_templates.py:118-136``)."""
    x = double(v)
    if higher_is_better:
        return _clip01_100(f"(try_divide({x}, {value(stats['max'])}) * 100.0D)")
    return _clip01_100(f"(try_divide({value(stats['min'])}, {x}) * 100.0D)")


def distance_from_mean(v: str, stats: Stats, prefer_above: bool = True) -> str:
    """Z-score mapped to [0,100] via ``(±z + 3) / 6 * 100``; constant column
    (std == 0) ⇒ 100 for all (reference ``custom_templates.py:139-167``)."""
    mean, std = value(stats["mean"]), value(stats["std"])
    z = f"(({double(v)} - {mean}) / {std})"
    signed = z if prefer_above else f"(- {z})"
    normalized = f"(({signed} + 3.0D) / 6.0D)"
    return (f"CASE WHEN (({std} IS NULL) OR ({std} = 0.0D)) THEN 100.0D "
            f"ELSE {_clip01_100(f'({normalized} * 100.0D)')} END")


#: Registry mirroring the reference's ``TEMPLATES`` dict
#: (``custom_templates.py:170-227``): same keys, display names, descriptions
#: and parameter schemas, with SQL-emitting functions and the ``stat_keys``
#: each template reads (the plan computes only those).
TEMPLATES: Dict[str, Dict[str, Any]] = {
    "budget_proximity": {
        "function": budget_proximity,
        "stat_keys": (),
        "name": "Budget Proximity",
        "description": "Score based on closeness to target budget",
        "parameters": {
            "target": {"type": "float", "default": 100000, "label": "Target Value"},
        },
    },
    "sweet_spot_range": {
        "function": sweet_spot_range,
        "stat_keys": (),
        "name": "Sweet Spot Range",
        "description": "Highest score within ideal range, drops outside",
        "parameters": {
            "min_ideal": {"type": "float", "default": 30, "label": "Minimum Ideal"},
            "max_ideal": {"type": "float", "default": 60, "label": "Maximum Ideal"},
        },
    },
    "penalty_function": {
        "function": penalty_function,
        "stat_keys": (),
        "name": "Penalty Function",
        "description": "Base score minus penalties for exceeding threshold",
        "parameters": {
            "base_score": {"type": "float", "default": 100, "label": "Base Score"},
            "threshold": {"type": "float", "default": 50, "label": "Penalty Threshold"},
            "penalty_per_unit": {"type": "float", "default": 2, "label": "Penalty Per Unit"},
        },
    },
    "bonus_tiers": {
        "function": bonus_tiers,
        "stat_keys": (),
        "name": "Bonus Tiers",
        "description": "Base score plus bonuses for meeting tier thresholds",
        "parameters": {
            "base_score": {"type": "float", "default": 50, "label": "Base Score"},
            "tier1_threshold": {"type": "float", "default": 5, "label": "Tier 1 Threshold"},
            "tier1_bonus": {"type": "float", "default": 20, "label": "Tier 1 Bonus"},
            "tier2_threshold": {"type": "float", "default": 10, "label": "Tier 2 Threshold"},
            "tier2_bonus": {"type": "float", "default": 30, "label": "Tier 2 Bonus"},
        },
    },
    "percentage_of_best": {
        "function": percentage_of_best,
        "stat_keys": ("min", "max"),
        "name": "Percentage of Best",
        "description": "Score as percentage relative to the best value",
        "parameters": {
            "higher_is_better": {"type": "bool", "default": True, "label": "Higher is Better"},
        },
    },
    "distance_from_mean": {
        "function": distance_from_mean,
        "stat_keys": ("mean", "std"),
        "name": "Distance from Mean",
        "description": "Score based on distance from mean",
        "parameters": {
            "prefer_above": {"type": "bool", "default": True, "label": "Prefer Above Mean"},
        },
    },
}


def get_template_names() -> list:
    """List of available template names (reference ``custom_templates.py:230-232``)."""
    return list(TEMPLATES.keys())


def get_template_info(template_name: str) -> Optional[dict]:
    """Info dict for a template (reference ``custom_templates.py:235-237``)."""
    return TEMPLATES.get(template_name)


def apply_template(template_name: str, value_sql: str, stats: Stats, **kwargs: Any) -> str:
    """SQL text of a template by name (reference ``custom_templates.py:240-258``)."""
    template = TEMPLATES.get(template_name)
    if template is None:
        raise ValueError(f"Unknown template: {template_name}")
    func: Callable[..., str] = template["function"]
    return func(value_sql, stats, **kwargs)
