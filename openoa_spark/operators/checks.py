"""Declarative data-quality checks, compiled to ONE aggregation pass.

The expectation-suite pattern (cf. Great Expectations / dbt tests)
re-expressed Spark-first: every rule compiles to a conditional-count
Column expression, ALL rules evaluate in a single whole-table
aggregate (one scan, map-side partial aggregation, no per-rule jobs),
and the 1-row result unpivots to the familiar (rule, violations,
total, pass) report. At 100 TB this is exactly one pass over the
data regardless of how many rules are attached; only `unique` adds a
distinct-aggregate (Spark plans it as a single expand+two-phase agg
alongside the plain counts — still one scan).

No reference counterpart — this extends the engine's QA family
(operators/qa.py) with the schema/constraint layer a training-data
or telemetry pipeline runs before anything else.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F


@dataclass(frozen=True)
class Rule:
    """One expectation. ``kind`` ∈ {not_null, unique, in_set,
    in_range, matches, custom}; ``params`` per kind:

    - not_null:  {}
    - unique:    {}                     (violations = rows − distinct)
    - in_set:    {"values": [...]}      (NULL counts as violation)
    - in_range:  {"lo": x, "hi": y}     (inclusive; NULL violates)
    - matches:   {"pattern": regex}     (NULL violates)
    - custom:    {"predicate": Column}  (True = OK; NULL/False violate)
    """

    name: str
    kind: str
    col: str
    params: dict = field(default_factory=dict)


def violation(rule: Rule) -> Column:
    """Row predicate: True where a row breaks ``rule``. Row-level kinds
    only — ``unique`` is a table property that run_checks counts apart.
    Raises ValueError on an unknown kind."""
    c = F.col(rule.col)
    if rule.kind == "not_null":
        return c.isNull()
    if rule.kind == "in_set":
        return ~c.isin(*rule.params["values"]) | c.isNull()
    if rule.kind == "in_range":
        lo, hi = rule.params["lo"], rule.params["hi"]
        return ~c.between(lo, hi) | c.isNull()
    if rule.kind == "matches":
        return ~c.rlike(rule.params["pattern"]) | c.isNull()
    if rule.kind == "custom":
        return ~F.coalesce(rule.params["predicate"], F.lit(False))
    raise ValueError(f"unknown rule kind: {rule.kind!r}")


def run_checks(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate every rule in one aggregation pass.

    Returns (rule, violations, total, pass) — one row per rule,
    deterministic content (row order is up to the caller's sort).
    """
    if not rules:
        raise ValueError("run_checks needs at least one rule")
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names: {names}")

    # positional aliases (_v_0, _v_1, ...) — rule names never enter a
    # SQL string or an identifier, so a name containing quotes,
    # spaces, dots, or hyphens is just data, not an injection hazard
    aggs = [F.count(F.lit(1)).alias("_total")]
    for i, r in enumerate(rules):
        if r.kind == "unique":
            aggs.append(
                (
                    F.count(r.col) - F.count_distinct(F.col(r.col))
                ).cast("long").alias(f"_v_{i}")
            )
        else:
            aggs.append(
                F.sum(F.when(violation(r), 1).otherwise(0))
                .cast("long").alias(f"_v_{i}")
            )
    one = df.agg(*aggs)

    # unpivot the 1-row aggregate to (rule, violations, total) via
    # explode over an array of (name-literal, count) structs — no
    # extra scan (the aggregate row is already tiny), no F.expr.
    kv = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r.name).alias("rule"),
                    F.col(f"_v_{i}").alias("violations"),
                )
                for i, r in enumerate(rules)
            ]
        )
    )
    long = one.select(kv.alias("_kv"), F.col("_total").alias("total"))
    return long.select(
        F.col("_kv.rule").alias("rule"),
        F.col("_kv.violations").alias("violations"),
        "total",
        (F.col("_kv.violations") == 0).alias("pass"),
    )
