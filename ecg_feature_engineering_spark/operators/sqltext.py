"""SQL-text spelling for operators that build their columns as text.

A Column built through the DataFrame API costs py4j round trips on the
driver: three for an ``F.col``, one per alias, cast or ``.over``, more for
a Python lambda. A projection sent as one ``selectExpr`` or ``F.expr`` of
SQL text is one call, and the text parses to the expressions the Column
API would have built."""

from __future__ import annotations

from pyspark.sql.types import ArrayType, DataType, MapType, StructType


def ident(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def lit(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_type(dt: DataType) -> str:
    """``dt`` in SQL type syntax, struct field names quoted."""
    if isinstance(dt, StructType):
        return "STRUCT<" + ", ".join(
            f"{ident(f.name)}: {sql_type(f.dataType)}" for f in dt) + ">"
    if isinstance(dt, ArrayType):
        return f"ARRAY<{sql_type(dt.elementType)}>"
    if isinstance(dt, MapType):
        return f"MAP<{sql_type(dt.keyType)}, {sql_type(dt.valueType)}>"
    return dt.simpleString()
