"""Stage IR — the engine's public intermediate representation.

Mirrors the reference's ``TransformationStage`` union-bag data model
(``ui/src/types.ts:7-63``): one dataclass with a ``type`` discriminator over
the closed algebra plus a per-type field bag. Every entry point in the
reference (NL chat, manual editor, image flow, voice) normalizes into this
shape, so it is the natural public IR for the Spark engine too.

Core types (reference parity): LOAD JOIN UNION FILTER GROUP SELECT SORT
AGGREGATE CUSTOM.

Extension types (beyond the reference, for training-data pipelines at scale —
kept in the same closed-IR style): WINDOW, LIMIT, DISTINCT, DEDUP,
SIMILARITY, TEXT, STREAM.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

# Reference stage algebra (ui/src/types.ts:9) + our extensions.
CORE_STAGE_TYPES = (
    "LOAD",
    "JOIN",
    "UNION",
    "FILTER",
    "GROUP",
    "SELECT",
    "SORT",
    "AGGREGATE",
    "CUSTOM",
)
EXTENSION_STAGE_TYPES = (
    "WINDOW",
    "LIMIT",
    "DISTINCT",
    "DEDUP",
    "SIMILARITY",
    "TEXT",
    "STREAM",
    "SETOP",
    "GROUPING",
    "PIVOT",
    "TOPK",
    "SAMPLE",
)
STAGE_TYPES = CORE_STAGE_TYPES + EXTENSION_STAGE_TYPES

StageType = str  # one of STAGE_TYPES

JOIN_TYPES = ("INNER", "LEFT", "RIGHT", "FULL OUTER")  # ui/src/types.ts:3
FILTER_OPERATORS = ("=", "!=", ">", "<", ">=", "<=", "LIKE", "IN", "NOT IN")  # ui/src/types.ts:4
UNION_TYPES = ("UNION", "UNION ALL")  # ui/src/types.ts:5
AGG_FUNCTIONS = ("SUM", "COUNT", "AVG", "MAX", "MIN")  # server/index.js:155,294


@dataclass
class FilterCondition:
    """One predicate in a FILTER chain (ui/src/types.ts:36-41)."""

    column: str
    operator: str
    value: Any
    logic: str = "AND"  # connector to the PREVIOUS condition; ignored on first

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> FilterCondition:
        return cls(
            column=d["column"],
            operator=d["operator"],
            value=d.get("value"),
            logic=d.get("logic", "AND"),
        )


@dataclass
class AggSpec:
    """One aggregation in GROUP/AGGREGATE (ui/src/types.ts:45-49)."""

    function: str
    column: str
    alias: str | None = None

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> AggSpec:
        return cls(function=d["function"], column=d["column"], alias=d.get("alias"))


@dataclass
class OrderSpec:
    """One sort key in SORT (ui/src/types.ts:55-58)."""

    column: str
    direction: str = "ASC"

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> OrderSpec:
        return cls(column=d["column"], direction=d.get("direction", "ASC"))


@dataclass
class Stage:
    """A transformation stage (ui/src/types.ts:7-63).

    ``data`` keeps the raw union-bag for round-trip fidelity with flow JSON
    exports; typed accessors below parse the per-type fields lazily.
    """

    type: StageType
    id: str = ""
    description: str = ""
    data: dict[str, Any] = field(default_factory=dict)

    # -- typed accessors ---------------------------------------------------
    @property
    def table(self) -> str | None:
        return self.data.get("table")

    @property
    def conditions(self) -> list[FilterCondition]:
        if self.data.get("conditions"):
            return [FilterCondition.from_dict(c) for c in self.data["conditions"]]
        if self.data.get("column") and self.data.get("operator") is not None:
            return [
                FilterCondition(
                    column=self.data["column"],
                    operator=self.data["operator"],
                    value=self.data.get("value"),
                )
            ]
        return []

    @property
    def aggregations(self) -> list[AggSpec]:
        return [AggSpec.from_dict(a) for a in self.data.get("aggregations", [])]

    @property
    def order_by(self) -> list[OrderSpec]:
        return [OrderSpec.from_dict(o) for o in self.data.get("orderBy", [])]

    # -- deserialization ---------------------------------------------------
    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> Stage:
        stage_type = d.get("type", "CUSTOM")
        # Unknown types default to CUSTOM, like the Gemini-stage whitelist
        # conversion at ui/src/App.tsx:1650-1670.
        if stage_type not in STAGE_TYPES:
            stage_type = "CUSTOM"
        return cls(
            type=stage_type,
            id=d.get("id", ""),
            description=d.get("description", ""),
            data=dict(d.get("data") or {}),
        )


def validate_stage(stage: Stage) -> bool:
    """Required-field validation; port of ``validateStage``
    (ui/src/promptGenerator.ts:6-37)."""
    d = stage.data
    t = stage.type
    if t == "JOIN":
        single = bool(d.get("leftKey") and d.get("rightKey"))
        multi = bool(d.get("leftKeys") and d.get("rightKeys"))
        return bool(d.get("leftTable") and d.get("rightTable") and (single or multi))
    if t == "UNION":
        return bool(isinstance(d.get("tables"), list) and len(d["tables"]) > 0)
    if t == "FILTER":
        has_single = bool(
            d.get("table")
            and d.get("column")
            and d.get("operator")
            and d.get("value") is not None
            and d.get("value") != ""
        )
        # The reference validator only checks the single-condition shape, but
        # the compiler accepts a conditions[] array; accept both here.
        has_multi = bool(d.get("table") and d.get("conditions"))
        return has_single or has_multi
    if t == "GROUP":
        return bool(isinstance(d.get("groupBy"), list) and len(d["groupBy"]) > 0)
    if t == "SELECT":
        return bool(isinstance(d.get("columns"), list) and len(d["columns"]) > 0)
    if t == "SORT":
        return bool(isinstance(d.get("orderBy"), list) and len(d["orderBy"]) > 0)
    if t == "CUSTOM":
        return bool(d.get("sql") and str(d["sql"]).strip())
    if t == "LOAD":
        return bool(d.get("tableName") or d.get("fileName"))
    return True
