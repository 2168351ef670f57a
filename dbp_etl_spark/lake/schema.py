"""Column-id based table schema with Iceberg-style evolution.

Reference precedent for evolution: new columns (content_loaded,
archived, published_snm, mode_id) were bolted onto ``bible_filesets``
over time — visible in the upsert attr list
/root/reference/load/UpdateDBPLPTSTable.py:403-405 vs. the older DDL
/root/reference/database/dbp.sql:591-610. The reference evolved its
schema ahead of its DDL dump; this engine makes that a first-class,
rewrite-free operation.

Columns are tracked by immutable integer id. Data files record the
schema *version* they were written under; on read, old files are
projected to the current schema by id (rename = same id, new name;
add = missing id -> NULL; widen = cast int->long / float->double).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

_TYPE_MAP: dict[str, T.DataType] = {
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "timestamp": T.TimestampType(),
    "long": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
}

# widening conversions permitted without rewrite (Iceberg's rules)
_WIDEN_OK: set[tuple[str, str]] = {("int", "long"), ("float", "double")}


def _split_top(s: str) -> list[str]:
    """Split on commas at bracket depth 0 (for map/struct type params)."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


def spark_type(name: str) -> T.DataType:
    if name.startswith("array<") and name.endswith(">"):
        return T.ArrayType(spark_type(name[6:-1]))
    if name.startswith("map<") and name.endswith(">"):
        k, v = _split_top(name[4:-1])
        return T.MapType(spark_type(k), spark_type(v))
    if name.startswith("struct<") and name.endswith(">"):
        fields = [
            T.StructField(p.split(":", 1)[0], spark_type(p.split(":", 1)[1]), True)
            for p in _split_top(name[7:-1])
        ]
        return T.StructType(fields)
    return _TYPE_MAP[name]


def type_name_of(dt: T.DataType) -> str:
    for name, t in _TYPE_MAP.items():
        if t == dt:
            return name
    if isinstance(dt, T.ArrayType):
        return f"array<{type_name_of(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{type_name_of(dt.keyType)},{type_name_of(dt.valueType)}>"
    if isinstance(dt, T.StructType):
        inner = ",".join(f"{f.name}:{type_name_of(f.dataType)}" for f in dt.fields)
        return f"struct<{inner}>"
    raise ValueError(f"unsupported lake type: {dt}")


@dataclass(frozen=True)
class ColumnSpec:
    col_id: int
    name: str
    type: str

    def to_json(self) -> dict:
        return {"id": self.col_id, "name": self.name, "type": self.type}

    @staticmethod
    def from_json(d: dict) -> "ColumnSpec":
        return ColumnSpec(d["id"], d["name"], d["type"])


@dataclass
class TableSchema:
    columns: list[ColumnSpec] = field(default_factory=list)

    @staticmethod
    def from_struct(st: T.StructType) -> "TableSchema":
        cols = [ColumnSpec(i + 1, f.name, type_name_of(f.dataType)) for i, f in enumerate(st.fields)]
        return TableSchema(cols)

    def to_struct(self) -> T.StructType:
        return T.StructType([T.StructField(c.name, spark_type(c.type), True) for c in self.columns])

    def to_json(self) -> list[dict]:
        return [c.to_json() for c in self.columns]

    @staticmethod
    def from_json(lst: list[dict]) -> "TableSchema":
        return TableSchema([ColumnSpec.from_json(d) for d in lst])

    def names(self) -> list[str]:
        return [c.name for c in self.columns]

    def max_id(self) -> int:
        return max((c.col_id for c in self.columns), default=0)

    def by_id(self) -> dict[int, ColumnSpec]:
        return {c.col_id: c for c in self.columns}

    def names_of(self, col_ids: list[int]) -> list[str | None]:
        """This schema's name for each id in ``col_ids``, None where it
        has no such column. The one alignment rule of every reader of
        older files: columns match by immutable id, so a rename keeps its
        values and a dropped then re-added column (fresh id) never picks
        up the dropped column's bytes."""
        by_id = self.by_id()
        return [by_id[i].name if i in by_id else None for i in col_ids]

    # --- evolution ops (each returns a NEW TableSchema) ---

    def add_column(self, name: str, type_name: str, col_id: int | None = None) -> "TableSchema":
        """``col_id`` lets the table layer assign ids from its
        last-assigned-id counter; after a drop_column, max_id()+1 could
        REUSE the dropped column's id and resurrect its old data at
        read time — the counter never goes backwards (Iceberg rule)."""
        if name in self.names():
            raise ValueError(f"column {name!r} already exists")
        spark_type(type_name)  # validate
        new_id = col_id if col_id is not None else self.max_id() + 1
        if new_id <= self.max_id():
            # never-reuse invariant: a recycled id would resurrect a
            # dropped column's bytes at read time
            raise ValueError(f"col_id {new_id} <= max assigned id {self.max_id()}")
        return TableSchema(self.columns + [ColumnSpec(new_id, name, type_name)])

    def drop_column(self, name: str) -> "TableSchema":
        """Metadata-only drop: old data files keep the column's bytes,
        but no current col id maps to them, so reads never project it.
        Re-adding the same NAME must use a fresh id (see add_column)."""
        if name not in self.names():
            raise ValueError(f"no column {name!r}")
        return TableSchema([c for c in self.columns if c.name != name])

    def rename_column(self, old: str, new: str) -> "TableSchema":
        if old not in self.names():
            raise ValueError(f"no column {old!r}")
        if new in self.names():
            raise ValueError(f"column {new!r} already exists")
        return TableSchema(
            [ColumnSpec(c.col_id, new, c.type) if c.name == old else c for c in self.columns]
        )

    def widen_column(self, name: str, new_type: str) -> "TableSchema":
        out = []
        for c in self.columns:
            if c.name == name:
                if c.type != new_type and (c.type, new_type) not in _WIDEN_OK:
                    raise ValueError(f"cannot widen {c.type} -> {new_type}")
                out.append(ColumnSpec(c.col_id, c.name, new_type))
            else:
                out.append(c)
        if name not in self.names():
            raise ValueError(f"no column {name!r}")
        return TableSchema(out)
