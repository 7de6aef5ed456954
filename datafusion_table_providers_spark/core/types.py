"""Type matrix: Arrow ↔ Spark ↔ backend DDL (SURVEY.md §1.3).

Reference analog: the write-side statement generator enumerates the supported
Arrow type matrix (crates/common/src/sql/arrow_sql_gen/statement.rs:233-1000;
CREATE TABLE column types :1297-1339), and unsupported remote types are
handled per ``UnsupportedTypeAction`` (crates/common/src/lib.rs:25-31).

Spark-side conventions (documented deltas from the reference):
- unsigned ints widen to the next signed type; UInt64 → Decimal(20,0)
- Time32/Time64 → TimeType on pyspark 4.1+ (BIGINT units-of-day on older)
- Timestamp(ns) truncates to microseconds
- Decimal256 with precision > 38 is unsupported (Error action)
- Interval(MonthDayNano) must be split into (months, days, nanos)
"""

from __future__ import annotations

import enum
from typing import List, Tuple

import pyarrow as pa
from pyspark.sql import types as T


class UnsupportedTypeAction(enum.Enum):
    ERROR = "error"
    WARN = "warn"
    IGNORE = "ignore"
    STRING = "string"


def arrow_to_spark_field(
    field: pa.Field, action: UnsupportedTypeAction = UnsupportedTypeAction.ERROR
) -> T.StructField:
    dt = _arrow_to_spark_type(field.type, action)
    if dt is None:
        if action == UnsupportedTypeAction.STRING:
            dt = T.StringType()
        elif action == UnsupportedTypeAction.IGNORE:
            return None
        else:
            msg = f"unsupported arrow type {field.type} for field {field.name}"
            if action == UnsupportedTypeAction.WARN:
                import warnings

                warnings.warn(msg)
                return None
            raise TypeError(msg)
    return T.StructField(field.name, dt, field.nullable)


def _arrow_to_spark_type(t: pa.DataType, action) -> T.DataType:
    if pa.types.is_int8(t):
        return T.ByteType()
    if pa.types.is_int16(t) or pa.types.is_uint8(t):
        return T.ShortType()
    if pa.types.is_int32(t) or pa.types.is_uint16(t):
        return T.IntegerType()
    if pa.types.is_int64(t) or pa.types.is_uint32(t):
        return T.LongType()
    if pa.types.is_uint64(t):
        return T.DecimalType(20, 0)
    if pa.types.is_float16(t) or pa.types.is_float32(t):
        return T.FloatType()
    if pa.types.is_float64(t):
        return T.DoubleType()
    if pa.types.is_boolean(t):
        return T.BooleanType()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return T.StringType()
    if pa.types.is_binary(t) or pa.types.is_large_binary(t) or pa.types.is_fixed_size_binary(t):
        return T.BinaryType()
    if pa.types.is_decimal(t):
        if t.precision > 38:
            return None  # Decimal256 beyond Spark's max — documented limitation
        return T.DecimalType(t.precision, t.scale)
    if pa.types.is_date(t):
        return T.DateType()
    if pa.types.is_timestamp(t):
        return T.TimestampType() if t.tz else T.TimestampNTZType()
    if pa.types.is_time(t):
        # pyspark 4.1 gained a real TimeType with Arrow support; older
        # releases fall back to the BIGINT units-of-day convention
        if hasattr(T, "TimeType"):
            return T.TimeType()
        return T.LongType()
    if pa.types.is_duration(t):
        return T.DayTimeIntervalType()
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        inner = _arrow_to_spark_type(t.value_type, action)
        return T.ArrayType(inner, True) if inner else None
    if pa.types.is_struct(t):
        fields = []
        for i in range(t.num_fields):
            f = arrow_to_spark_field(t.field(i), action)
            if f is None:
                return None
            fields.append(f)
        return T.StructType(fields)
    if pa.types.is_map(t):
        k = _arrow_to_spark_type(t.key_type, action)
        v = _arrow_to_spark_type(t.item_type, action)
        return T.MapType(k, v, True) if k and v else None
    if pa.types.is_dictionary(t):
        return _arrow_to_spark_type(t.value_type, action)  # materialized
    if pa.types.is_null(t):
        return T.StringType()
    return None


def arrow_to_spark_schema(
    schema: pa.Schema, action: UnsupportedTypeAction = UnsupportedTypeAction.ERROR
) -> T.StructType:
    fields = [arrow_to_spark_field(f, action) for f in schema]
    return T.StructType([f for f in fields if f is not None])


# ---------------------------------------------------------------------------
# Spark type → backend DDL (CreateTableBuilder analog, statement.rs:37-142).
# SQLite/MySQL store nested types as JSON text columns (statement.rs:82-104).

_DUCKDB_SIMPLE = {
    T.ByteType: "TINYINT",
    T.ShortType: "SMALLINT",
    T.IntegerType: "INTEGER",
    T.LongType: "BIGINT",
    T.FloatType: "FLOAT",
    T.DoubleType: "DOUBLE",
    T.BooleanType: "BOOLEAN",
    T.StringType: "VARCHAR",
    T.BinaryType: "BLOB",
    T.DateType: "DATE",
    T.TimestampType: "TIMESTAMP",
    T.TimestampNTZType: "TIMESTAMP",
    T.DayTimeIntervalType: "INTERVAL",
    T.YearMonthIntervalType: "INTERVAL",
}

_SQLITE_SIMPLE = {
    T.ByteType: "INTEGER",
    T.ShortType: "INTEGER",
    T.IntegerType: "INTEGER",
    T.LongType: "INTEGER",
    T.FloatType: "REAL",
    T.DoubleType: "REAL",
    T.BooleanType: "INTEGER",
    T.StringType: "TEXT",
    T.BinaryType: "BLOB",
    T.DateType: "TEXT",
    T.TimestampType: "TEXT",
    T.TimestampNTZType: "TEXT",
}


_POSTGRES_SIMPLE = {
    T.ByteType: "SMALLINT",  # pg has no 1-byte int
    T.ShortType: "SMALLINT",
    T.IntegerType: "INTEGER",
    T.LongType: "BIGINT",
    T.FloatType: "REAL",
    T.DoubleType: "DOUBLE PRECISION",
    T.BooleanType: "BOOLEAN",
    T.StringType: "TEXT",
    T.BinaryType: "BYTEA",
    T.DateType: "DATE",
    T.TimestampType: "TIMESTAMPTZ",
    T.TimestampNTZType: "TIMESTAMP",
    T.DayTimeIntervalType: "INTERVAL",
    T.YearMonthIntervalType: "INTERVAL",
}

_MYSQL_SIMPLE = {
    T.ByteType: "TINYINT",
    T.ShortType: "SMALLINT",
    T.IntegerType: "INT",
    T.LongType: "BIGINT",
    T.FloatType: "FLOAT",
    T.DoubleType: "DOUBLE",
    T.BooleanType: "BOOLEAN",
    T.StringType: "TEXT",
    T.BinaryType: "BLOB",
    T.DateType: "DATE",
    T.TimestampType: "TIMESTAMP(6)",
    T.TimestampNTZType: "DATETIME(6)",
}

_CLICKHOUSE_SIMPLE = {
    T.ByteType: "Int8",
    T.ShortType: "Int16",
    T.IntegerType: "Int32",
    T.LongType: "Int64",
    T.FloatType: "Float32",
    T.DoubleType: "Float64",
    T.BooleanType: "Bool",
    T.StringType: "String",
    T.BinaryType: "String",
    T.DateType: "Date32",
    T.TimestampType: "DateTime64(6)",
    T.TimestampNTZType: "DateTime64(6)",
}



# pyspark 4.1+: real TIME type (older releases have no T.TimeType)
if hasattr(T, "TimeType"):
    _DUCKDB_SIMPLE[T.TimeType] = "TIME"
    _SQLITE_SIMPLE[T.TimeType] = "TEXT"
    _POSTGRES_SIMPLE[T.TimeType] = "TIME"
    _MYSQL_SIMPLE[T.TimeType] = "TIME(6)"
    _CLICKHOUSE_SIMPLE[T.TimeType] = "String"  # ClickHouse has no TIME type


def spark_type_to_ddl(dt: T.DataType, dialect_name: str) -> str:
    if dialect_name in ("ansi", "odbc", "adbc"):
        # driver-agnostic passthrough dialects emit ANSI names (the duckdb
        # matrix is the ANSI core)
        dialect_name = "duckdb"
    if dialect_name == "postgres":
        if isinstance(dt, T.DecimalType):
            return f"NUMERIC({dt.precision},{dt.scale})"
        if isinstance(dt, T.ArrayType):
            return spark_type_to_ddl(dt.elementType, dialect_name) + "[]"
        if isinstance(dt, (T.StructType, T.MapType)):
            return "JSONB"  # composite/dynamic → JSONB (schema.rs:90 analog)
        simple = _POSTGRES_SIMPLE.get(type(dt))
        if simple:
            return simple
    elif dialect_name == "mysql":
        if isinstance(dt, T.DecimalType):
            return f"DECIMAL({dt.precision},{dt.scale})"
        if isinstance(dt, (T.ArrayType, T.StructType, T.MapType)):
            return "JSON"  # nested stored as JSON (statement.rs:82-104)
        simple = _MYSQL_SIMPLE.get(type(dt))
        if simple:
            return simple
    elif dialect_name == "clickhouse":
        if isinstance(dt, T.DecimalType):
            return f"Decimal({dt.precision},{dt.scale})"
        if isinstance(dt, T.ArrayType):
            return f"Array({spark_type_to_ddl(dt.elementType, dialect_name)})"
        if isinstance(dt, T.StructType):
            inner = ", ".join(
                f"`{f.name}` {spark_type_to_ddl(f.dataType, dialect_name)}"
                for f in dt.fields
            )
            return f"Tuple({inner})"
        if isinstance(dt, T.MapType):
            return (
                f"Map({spark_type_to_ddl(dt.keyType, dialect_name)}, "
                f"{spark_type_to_ddl(dt.valueType, dialect_name)})"
            )
        simple = _CLICKHOUSE_SIMPLE.get(type(dt))
        if simple:
            return simple
    if dialect_name == "duckdb":
        if isinstance(dt, T.DecimalType):
            return f"DECIMAL({dt.precision},{dt.scale})"
        if isinstance(dt, T.ArrayType):
            return spark_type_to_ddl(dt.elementType, dialect_name) + "[]"
        if isinstance(dt, T.StructType):
            inner = ", ".join(
                f'"{f.name}" {spark_type_to_ddl(f.dataType, dialect_name)}'
                for f in dt.fields
            )
            return f"STRUCT({inner})"
        if isinstance(dt, T.MapType):
            return (
                f"MAP({spark_type_to_ddl(dt.keyType, dialect_name)}, "
                f"{spark_type_to_ddl(dt.valueType, dialect_name)})"
            )
        simple = _DUCKDB_SIMPLE.get(type(dt))
        if simple:
            return simple
    elif dialect_name == "sqlite":
        if isinstance(dt, T.DecimalType):
            return "TEXT"  # exactness preserved; numeric affinity would round
        if isinstance(dt, (T.ArrayType, T.StructType, T.MapType)):
            return "TEXT"  # nested stored as JSON, statement.rs:82-104 analog
        simple = _SQLITE_SIMPLE.get(type(dt))
        if simple:
            return simple
    raise TypeError(f"no {dialect_name} DDL mapping for Spark type {dt}")


def create_table_ddl(
    table: str,
    schema: T.StructType,
    dialect_name: str,
    primary_keys: Tuple[str, ...] = (),
    if_not_exists: bool = False,
    temporary: bool = False,
) -> str:
    """CREATE [TEMP] TABLE from a Spark schema (CreateTableBuilder,
    statement.rs:37-142 — incl. PK clause :127-134). Identifier quoting and
    nullability follow the target dialect (ClickHouse: columns are
    non-nullable unless wrapped in Nullable(...), and a table ENGINE is
    mandatory)."""
    from datafusion_table_providers_spark.core.expr import DIALECTS

    q = DIALECTS.get(dialect_name, DIALECTS["ansi"]).quote_ident
    ch = dialect_name == "clickhouse"
    cols: List[str] = []
    for f in schema.fields:
        ty = spark_type_to_ddl(f.dataType, dialect_name)
        if (
            dialect_name == "mysql"
            and isinstance(f.dataType, T.StringType)
            and f.name in primary_keys
        ):
            # MySQL can't index TEXT without a prefix length (error 1170);
            # key-eligible strings become bounded VARCHAR (statement.rs does
            # the same for MySQL keys)
            ty = "VARCHAR(255)"
        if ch:
            nestable = isinstance(
                f.dataType, (T.ArrayType, T.StructType, T.MapType)
            )
            # CH forbids Nullable(composite); PK columns become the MergeTree
            # sort key, which rejects Nullable (allow_nullable_key=0) — they
            # are forced non-nullable like NOT NULL does elsewhere
            if f.nullable and not nestable and f.name not in primary_keys:
                ty = f"Nullable({ty})"
            col = f"{q(f.name)} {ty}"
        else:
            col = f"{q(f.name)} {ty}"
            if not f.nullable:
                col += " NOT NULL"
        cols.append(col)
    if primary_keys and not ch:
        pk = ", ".join(q(k) for k in primary_keys)
        cols.append(f"PRIMARY KEY ({pk})")
    ine = "IF NOT EXISTS " if if_not_exists else ""
    temp = "TEMP " if temporary else ""
    ddl = f'CREATE {temp}TABLE {ine}{q(table)} ({", ".join(cols)})'
    if ch:
        order = (
            "(" + ", ".join(q(k) for k in primary_keys) + ")"
            if primary_keys
            else "tuple()"
        )
        ddl += f" ENGINE = MergeTree ORDER BY {order}"
    return ddl
