"""Field-id based schema registry with Iceberg-style evolution.

Why field ids: renames must not rewrite data files (SURVEY.md §4 custom-5).
Each field has a stable integer id; data files record the schema_version
they were written under; readers map name-at-write-time -> field id ->
current name, so a rename is a pure metadata operation.

Reference precursor for apply-time schema alignment: ``pd.concat`` aligning
by column name with NaN-fill (/root/reference/src/how_long_to_beat.py:242)
and ``DataFrame.update``'s by-name cell alignment
(/root/reference/src/internet_games_database.py:298).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import lru_cache

from pyspark.sql import types as T

# allowed widening promotions (Iceberg rules): int->long, float->double,
# plus int->double as a pragmatic extra for parquet ints read as int32.
_WIDEN_OK = {
    ("int", "bigint"),
    ("float", "double"),
    ("int", "double"),
    ("smallint", "int"),
    ("smallint", "bigint"),
}

_TYPE_RANK = {"smallint": 0, "int": 1, "bigint": 2, "float": 1, "double": 2}


def _simple(dt: T.DataType) -> str:
    return dt.simpleString()


def can_widen(src: str, dst: str) -> bool:
    # 'void' = all-null column (NullType): castable to any type
    return src == dst or src == "void" or (src, dst) in _WIDEN_OK


@dataclass
class Field:
    id: int
    name: str
    type: str  # Spark simpleString, e.g. "string", "bigint", "timestamp", "binary"
    nullable: bool = True

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "type": self.type, "nullable": self.nullable}

    @staticmethod
    def from_json(d: dict) -> "Field":
        return Field(d["id"], d["name"], d["type"], d.get("nullable", True))


@dataclass
class TableSchema:
    """One version of the table schema. Immutable once committed."""

    version: int
    fields: list[Field] = field(default_factory=list)

    def names(self) -> list[str]:
        return [f.name for f in self.fields]

    def by_name(self) -> dict[str, Field]:
        return {f.name: f for f in self.fields}

    def by_id(self) -> dict[int, Field]:
        return {f.id: f for f in self.fields}

    def to_spark(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField(f.name, _parse_type(f.type), f.nullable)
                for f in self.fields
            ]
        )

    def to_json(self) -> dict:
        return {"version": self.version, "fields": [f.to_json() for f in self.fields]}

    @staticmethod
    def from_json(d: dict) -> "TableSchema":
        return TableSchema(d["version"], [Field.from_json(f) for f in d["fields"]])

    @staticmethod
    def from_spark(spark_schema: T.StructType, version: int = 0) -> "TableSchema":
        return TableSchema(
            version,
            [
                Field(i + 1, f.name, _simple(f.dataType), f.nullable)
                for i, f in enumerate(spark_schema.fields)
            ],
        )


@lru_cache(maxsize=None)
def _parse_type(s: str) -> T.DataType:
    # struct-free types only (engine table columns are scalar/binary/array).
    # Each parse is a py4j round trip (about 2 ms); a table has a few type
    # strings and every ``to_spark`` asks for them again, so parse each once
    return T._parse_datatype_string(s)  # public-ish helper in pyspark.sql.types


@dataclass
class EvolutionResult:
    schema: TableSchema  # the (possibly new) current schema
    changed: bool
    added: list[str]
    renamed: dict[str, str]  # old -> new
    widened: dict[str, tuple[str, str]]  # name -> (old_type, new_type)
    # mapping from incoming batch column name -> current field name
    batch_to_current: dict[str, str] = field(default_factory=dict)


def evolve(
    current: TableSchema,
    incoming: T.StructType,
    rename_hints: dict[str, str] | None = None,
    auto_detect_rename: bool = False,
) -> EvolutionResult:
    """Resolve an incoming batch schema against the current table schema.

    Supported evolutions (north_rule: add / rename / type-widen):
    - add:    incoming column absent from current -> new field (next id)
    - rename: via explicit ``rename_hints`` {old_name: new_name} (DDL-style,
      as real CDC streams carry). ``auto_detect_rename`` (OFF by default)
      additionally treats "exactly one column vanished + exactly one
      appeared with the identical type" as a rename — it is off because CDC
      batches legitimately omit columns (partial updates), and silently
      re-projecting an omitted column's history under a new name would be
      data corruption; opt in only for full-schema sources.
    - widen:  incoming type is a legal promotion of the field type
      (int->long, float->double); the field type is widened and old data
      files are up-cast on read.

    Returns the resolved schema + a per-batch column mapping. Raises on
    incompatible (narrowing / type-clash) changes.
    """
    rename_hints = dict(rename_hints or {})
    cur_by_name = current.by_name()
    in_names = [f.name for f in incoming.fields]
    in_by_name = {f.name: f for f in incoming.fields}

    missing = [n for n in current.names() if n not in in_names]
    extra = [n for n in in_names if n not in cur_by_name]

    # explicit renames first
    renamed: dict[str, str] = {}
    for old, new in rename_hints.items():
        if old in cur_by_name and new in extra:
            renamed[old] = new
    # opt-in auto-detect single rename: one vanished + one appeared, and the
    # types must be IDENTICAL (a widenable-but-different type is not enough
    # evidence to risk re-projecting history under a new name)
    if auto_detect_rename and not renamed:
        cand_old = [n for n in missing if n not in renamed]
        cand_new = [n for n in extra]
        if len(cand_old) == 1 and len(cand_new) == 1:
            old, new = cand_old[0], cand_new[0]
            if _simple(in_by_name[new].dataType) == cur_by_name[old].type:
                renamed[old] = new

    new_fields: list[Field] = []
    widened: dict[str, tuple[str, str]] = {}
    changed = False
    batch_to_current: dict[str, str] = {}
    rename_rev = {v: k for k, v in renamed.items()}

    for f in current.fields:
        name_in_batch = renamed.get(f.name, f.name)
        target_name = renamed.get(f.name, f.name)  # renamed field takes the NEW name
        ftype = f.type
        if name_in_batch in in_by_name:
            in_type = _simple(in_by_name[name_in_batch].dataType)
            if in_type != ftype:
                if can_widen(ftype, in_type):
                    widened[target_name] = (ftype, in_type)
                    ftype = in_type
                    changed = True
                elif can_widen(in_type, ftype):
                    pass  # incoming is narrower: cast batch up, schema unchanged
                else:
                    raise ValueError(
                        f"incompatible type change for {f.name!r}: {ftype} -> {in_type}"
                    )
            batch_to_current[name_in_batch] = target_name
        if target_name != f.name:
            changed = True
        new_fields.append(Field(f.id, target_name, ftype, f.nullable))

    next_id = max((f.id for f in current.fields), default=0) + 1
    added = []
    for n in extra:
        if n in rename_rev:
            continue
        new_fields.append(Field(next_id, n, _simple(in_by_name[n].dataType), True))
        batch_to_current[n] = n
        added.append(n)
        next_id += 1
        changed = True

    schema = TableSchema(current.version + 1 if changed else current.version, new_fields)
    return EvolutionResult(schema, changed, added, renamed, widened, batch_to_current)
