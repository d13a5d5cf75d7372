"""Pipeline runner — sequential stage execution over a named-DataFrame catalog.

Mirrors the reference's two executors:

* single-stage execute (``ui/src/App.tsx:551-662``): input-table resolution
  precedence ``stage.data.table`` → previous stage's result table → active
  table → first table; result materialized as
  ``result_stage_{index}_{type_lowercase}`` (ui/src/App.tsx:601-605).
* batch flow executor ``processFlowData`` (``ui/src/App.tsx:736-1536``):
  sequential execution, per-stage try/catch continue-on-error
  (ui/src/App.tsx:1491-1498), result numbering from the ``stage_(\\d+)`` id
  when present (ui/src/App.tsx:1454-1458), LOAD stages resolving to
  already-loaded tables.

Spark-first difference: "materialization" is a temp-view registration of a
*lazy* DataFrame, so consecutive stages fuse into one Catalyst plan (filters
reach the scan, projections prune columns).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from gemini_data_wrangler_spark.operators.compiler import compile_stage
from gemini_data_wrangler_spark.plans.stage import Stage

_STAGE_ID_NUM = re.compile(r"stage_(\d+)")


def clean_table_name(name: str) -> str:
    """Name hygiene: strip file-extension suffixes the same way the
    reference cleans Gemini-produced table names (ui/src/App.tsx:762-777)."""
    cleaned = re.sub(r"_(csv|xlsx|xls|txt)$", "", name, flags=re.IGNORECASE)
    cleaned = re.sub(r"\.(csv|xlsx|xls|txt)$", "", cleaned, flags=re.IGNORECASE)
    return cleaned


def table_name_for_file(file_name: str) -> str:
    """LOAD table naming: ``table_`` + filename sans extension,
    non-alphanumerics → ``_`` (ui/src/App.tsx:471-472)."""
    base = re.sub(r"\.[^.]+$", "", file_name)
    return "table_" + re.sub(r"[^a-zA-Z0-9_]", "_", base)


@dataclass
class StageResult:
    stage: Stage
    result_name: str | None
    df: DataFrame | None
    error: str | None = None


@dataclass
class PipelineRunner:
    """Execute an ordered list of stages against a catalog of DataFrames."""

    spark: SparkSession
    tables: dict[str, DataFrame] = field(default_factory=dict)
    active_table: str | None = None

    def __post_init__(self) -> None:
        for name, df in self.tables.items():
            df.createOrReplaceTempView(name)

    # -- catalog -----------------------------------------------------------
    def add_table(self, name: str, df: DataFrame) -> None:
        name = self._uniquify(clean_table_name(name))
        self.tables[name] = df
        df.createOrReplaceTempView(name)
        if self.active_table is None:
            self.active_table = name

    def _uniquify(self, name: str) -> str:
        # Uniquify with _1, _2, … like ui/src/App.tsx:789-800.
        if name not in self.tables:
            return name
        i = 1
        while f"{name}_{i}" in self.tables:
            i += 1
        return f"{name}_{i}"

    def resolve(self, name: str) -> DataFrame:
        if name in self.tables:
            return self.tables[name]
        cleaned = clean_table_name(name)
        if cleaned in self.tables:
            return self.tables[cleaned]
        # Case-insensitive fallback (DuckDB resolves identifiers
        # case-insensitively; ui/src/App.tsx:1334-1343 lowercases to match).
        lowered = name.lower()
        for key, df in self.tables.items():
            if key.lower() == lowered:
                return df
        raise KeyError(f"Unknown table: {name}")

    # -- execution ---------------------------------------------------------
    def result_name_for(self, stage: Stage, index: int) -> str:
        m = _STAGE_ID_NUM.search(stage.id or "")
        n = int(m.group(1)) if m else index
        return f"result_stage_{n}_{stage.type.lower()}"

    def default_input(self, index: int, previous_result: str | None) -> str | None:
        # Precedence: previous stage's result → active table → first table
        # (ui/src/App.tsx:566-592). stage.data.table is handled inside
        # compile_stage.
        if previous_result:
            return previous_result
        if self.active_table:
            return self.active_table
        if self.tables:
            return next(iter(self.tables))
        return None

    def run_stage(self, stage: Stage, index: int, previous_result: str | None = None) -> StageResult:
        if stage.type == "LOAD":
            # LOAD maps to an already-loaded table (ui/src/App.tsx:957-977);
            # its "result" is that table itself, feeding the next stage.
            name = stage.data.get("tableName") or (
                table_name_for_file(stage.data["fileName"]) if stage.data.get("fileName") else None
            )
            if not name:
                raise ValueError("LOAD stage requires tableName or fileName")
            df = self.resolve(name)
            resolved = clean_table_name(name) if clean_table_name(name) in self.tables else name
            return StageResult(stage=stage, result_name=resolved, df=df)

        default_table = self.default_input(index, previous_result)
        df = compile_stage(stage, self.resolve, spark=self.spark, default_table=default_table)
        result_name = self.result_name_for(stage, index)
        self.tables[result_name] = df
        df.createOrReplaceTempView(result_name)
        return StageResult(stage=stage, result_name=result_name, df=df)

    def run(self, stages: list[Stage | dict[str, Any]], continue_on_error: bool = False) -> list[StageResult]:
        """Run stages sequentially; each stage's result becomes the next
        stage's default input (ui/src/App.tsx:995-1499)."""
        results: list[StageResult] = []
        previous_result: str | None = None
        for i, raw in enumerate(stages):
            stage = raw if isinstance(raw, Stage) else Stage.from_dict(raw)
            try:
                res = self.run_stage(stage, i, previous_result)
                previous_result = res.result_name
                results.append(res)
            except Exception as exc:  # noqa: BLE001 — continue-on-error parity
                if not continue_on_error:
                    raise
                results.append(StageResult(stage=stage, result_name=None, df=None, error=str(exc)))
        return results

    def preview(self, name: str, n: int = 1000) -> DataFrame:
        """The reference's LIMIT-1000 read-back (ui/src/App.tsx:608)."""
        return self.resolve(name).limit(n)

    def describe(self, name: str) -> list[dict[str, str]]:
        """Schema introspection shaped like DuckDB ``DESCRIBE`` output."""
        return [
            {"column_name": f.name, "column_type": f.dataType.simpleString()}
            for f in self.resolve(name).schema.fields
        ]
