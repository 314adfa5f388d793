"""Table capture configuration — the reference's config metadata
(schemas → tables → columns / conditions / column_expressions, key
handling) re-expressed as a declarative dataclass tree that compiles
to DataFrame expressions instead of PL/SQL trigger text.

Reference model:
  * Tables/Columns with per-operation Y/N flags
    (db/migrate/20200108075106_create_tables.rb,
     20200108133919_create_columns.rb; projection P1/P2)
  * Conditions: per-(table, op) SQL predicate (P3,
    db_trigger_generator_oracle.rb:774-777)
  * column_expressions: arbitrary SQL appended to the payload (§2.10,
    db_trigger_generator_oracle.rb:620-676)
  * kafka_key_handling N/P/F/T/E (table.rb:67-85)
  * whole-config import/export round trip (S12,
    import_export_config.rb:22-81,86-120)

The reference "compiles" this config into per-table trigger programs
(db_trigger.rb:38-92); here the compile target is a parameterized
DataFrame pipeline — Catalyst does the actual codegen. A config change
between micro-batches is the schema-evolution trigger (north rule).
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movex_cdc_spark.session import select_sql
from movex_cdc_spark.sqltext import ident, in_list, literal

OPS = ("I", "U", "D")


@dataclass
class ColumnCfg:
    name: str
    log_insert: bool = True
    log_update: bool = True
    log_delete: bool = True

    def logged_for(self, op: str) -> bool:
        return {"I": self.log_insert, "U": self.log_update, "D": self.log_delete}[op]


@dataclass
class ExpressionCfg:
    """Computed payload column (column_expressions analog): arbitrary
    SQL over the event row, added per operation."""
    alias: str
    sql: str
    operations: tuple[str, ...] = OPS


@dataclass
class TableCfg:
    name: str
    key_cols: list[str]
    columns: list[ColumnCfg]
    # per-op condition SQL; rows NOT matching are dropped (P3)
    conditions: dict[str, str] = field(default_factory=dict)
    expressions: list[ExpressionCfg] = field(default_factory=list)
    # N=no key, P=primary key, F=fixed, T=transaction id, E=expression
    key_handling: str = "P"
    fixed_key: str | None = None
    key_expression: str | None = None
    payload_pkey_only: bool = False
    initialization: bool = False
    initialization_filter: str | None = None
    initialization_order_by: str | None = None

    # ------------------------------------------------ compiled pieces
    def payload_cols(self, op: str) -> list[str]:
        if self.payload_pkey_only:
            return list(self.key_cols)
        return [c.name for c in self.columns if c.logged_for(op)]

    def condition(self, op: str) -> str | None:
        return self.conditions.get(op)

    def key_sql(self) -> str:
        """The message-key expression (SQL text) for the 5 key-handling
        modes (reference table.rb:67-85, trigger gen oracle.rb:917-967)."""
        mode = self.key_handling
        if mode == "N":
            return "CAST(NULL AS STRING)"
        if mode == "P":
            fields = ", ".join(f"{literal(c)}, {ident(c)}" for c in self.key_cols)
            return f"to_json(named_struct({fields}))"
        if mode == "F":
            return literal(self.fixed_key)
        if mode == "T":
            return "CAST(txid AS STRING)"
        if mode == "E":
            return f"CAST(({self.key_expression}) AS STRING)"
        raise ValueError(f"unknown key_handling {mode!r}")

    def column_sql(self, col: ColumnCfg, op_col: str = "op") -> str:
        """Column ``col`` for the ops that log it, NULL for the rest (P1/P2)."""
        ops = [op for op in OPS if col.logged_for(op)]
        if not ops:
            return "NULL"
        return f"CASE WHEN {in_list(ident(op_col), ops)} THEN {ident(col.name)} END"

    def projection(self, columns: list[str], op_col: str = "op") -> dict[str, str]:
        """Name → SQL text of the per-operation column selection over a
        frame with ``columns``: the columns the config does not name pass
        through, then the config's columns, each nulled for the ops that
        do not log it, so one plan serves all three ops."""
        named = {c.name for c in self.columns}
        out = {c: ident(c) for c in columns if c not in named}
        out.update((c.name, self.column_sql(c, op_col)) for c in self.columns)
        return out

    def apply_projection(self, df: DataFrame, op_col: str = "op") -> DataFrame:
        """Per-operation column selection (``projection``), then the
        column_expressions, each for its operations, added one by one in
        config order: an expression may read an earlier one's alias, and
        an alias naming an existing column replaces it in place."""
        proj = self.projection(df.columns, op_col)
        out = select_sql(df, [f"{sql} AS {ident(n)}" for n, sql in proj.items()])
        for ex in self.expressions:
            sql = f"({ex.sql})"
            if tuple(ex.operations) != OPS:
                sql = f"CASE WHEN {in_list(ident(op_col), ex.operations)} THEN {sql} END"
            out = out.withColumn(ex.alias, F.expr(sql))
        return out


@dataclass
class EngineConfig:
    """Whole-engine config document (the import/export unit)."""
    tables: dict[str, TableCfg] = field(default_factory=dict)

    # --------------------------------------------------- round trip
    def to_json(self) -> str:
        doc = {name: asdict(t) for name, t in self.tables.items()}
        return json.dumps({"tables": doc}, indent=2, sort_keys=True)

    @classmethod
    def from_json(cls, text: str) -> "EngineConfig":
        doc = json.loads(text)
        tables = {}
        for name, t in doc["tables"].items():
            t = dict(t)
            t["columns"] = [ColumnCfg(**c) for c in t["columns"]]
            t["expressions"] = [
                ExpressionCfg(alias=e["alias"], sql=e["sql"], operations=tuple(e["operations"]))
                for e in t.get("expressions", [])
            ]
            tables[name] = TableCfg(**t)
        return cls(tables=tables)

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            f.write(self.to_json())

    @classmethod
    def load(cls, path: str) -> "EngineConfig":
        with open(path) as f:
            return cls.from_json(f.read())

    def diff_columns(self, other: "EngineConfig") -> dict[str, dict[str, list[str]]]:
        """Column-level diff — what drives ALTER-before-MERGE when the
        config changes mid-stream (reference: trigger regeneration on
        config change, db_trigger.rb:38-92)."""
        out: dict[str, dict[str, list[str]]] = {}
        for name, t_new in other.tables.items():
            t_old = self.tables.get(name)
            old_cols = {c.name for c in t_old.columns} if t_old else set()
            new_cols = {c.name for c in t_new.columns}
            added = sorted(new_cols - old_cols)
            removed = sorted(old_cols - new_cols)
            if added or removed or t_old is None:
                out[name] = {"added": added, "removed": removed}
        return out


def repo_files_config() -> EngineConfig:
    """Default config for the north-rule repo_files table."""
    return EngineConfig(
        tables={
            "repo_files": TableCfg(
                name="repo_files",
                key_cols=["repo", "path"],
                columns=[
                    ColumnCfg("repo"),
                    ColumnCfg("path"),
                    ColumnCfg("commit"),
                    ColumnCfg("lang"),
                    ColumnCfg("content", log_delete=False),
                ],
                conditions={
                    "I": "content IS NULL OR NOT contains(content, 'EXCLUDE FILTER')",
                    "U": "content IS NULL OR NOT contains(content, 'EXCLUDE FILTER')",
                },
                key_handling="P",
                initialization=True,
            )
        }
    )
