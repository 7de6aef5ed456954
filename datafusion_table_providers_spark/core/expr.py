"""Expression → SQL unparsing for pushdown and DML generation.

Reference analog: the DataFusion unparser drives `scan_to_sql`
(crates/common/src/sql/sql_provider_datafusion/mod.rs:122-134) and the
exact/unsupported filter split (mod.rs:231-247, expr.rs:1-68). In Spark the
plan-level pushdown is Catalyst's job; what we own is:

- translating the Python Data Source API ``Filter`` objects that Spark pushes
  into dialect SQL WHERE clauses (the "Exact" set — anything translated here
  is removed from Spark's post-scan filter, so translation must be
  semantics-preserving);
- rendering literals / identifiers per backend dialect (quoting, LIKE
  escaping, interval lowering for SQLite — reference
  crates/sqlite/src/sqlite_interval.rs).
"""

from __future__ import annotations

import datetime as dt
import math
from typing import List, Optional, Sequence, Tuple


class Dialect:
    """Identifier quoting + literal rendering for one SQL backend."""

    name = "ansi"
    quote_char = '"'

    def quote_ident(self, ident: str) -> str:
        q = self.quote_char
        return q + ident.replace(q, q + q) + q

    def quote_compound(self, parts: Sequence[str]) -> str:
        return ".".join(self.quote_ident(p) for p in parts)

    def literal(self, value) -> str:
        if value is None:
            return "NULL"
        if isinstance(value, bool):
            return "TRUE" if value else "FALSE"
        if isinstance(value, float) and not math.isfinite(value):
            # repr() would emit bare inf/nan tokens, which bind as column
            # references — render the portable string-cast form instead.
            # DOUBLE PRECISION is the ANSI spelling: bare DOUBLE is not a
            # Postgres type and CAST…AS DOUBLE needs MySQL ≥ 8.0.17.
            if math.isnan(value):
                return "CAST('NaN' AS DOUBLE PRECISION)"
            sign = "-" if value < 0 else ""
            return f"CAST('{sign}Infinity' AS DOUBLE PRECISION)"
        if isinstance(value, float):
            # bare decimal literals parse as DECIMAL in several engines
            # (DuckDB included) and the DECIMAL→DOUBLE hop can lose a ULP;
            # a string→double cast is correctly rounded, so repr() (the
            # shortest round-tripping form) survives exactly
            return f"CAST('{repr(value)}' AS DOUBLE PRECISION)"
        if isinstance(value, int):
            return repr(value)
        if isinstance(value, dt.datetime):
            return f"TIMESTAMP '{value.isoformat(sep=' ')}'"
        if isinstance(value, dt.date):
            return f"DATE '{value.isoformat()}'"
        if isinstance(value, bytes):
            return "X'" + value.hex() + "'"
        s = str(value).replace("'", "''")
        return f"'{s}'"

    def like_escape(self, fragment: str) -> str:
        """Escape LIKE metacharacters in a plain-string fragment."""
        return (
            fragment.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
        )

    def like_suffix(self) -> str:
        """The ESCAPE clause naming backslash as the LIKE escape char,
        rendered through ``literal`` so dialects with backslash-escaped
        strings (MySQL) emit ``ESCAPE '\\\\'`` — a bare ``ESCAPE '\\'``
        swallows its own closing quote there (caught by the dialect-lint
        property test)."""
        return f" ESCAPE {self.literal(chr(92))}"


class DuckDBDialect(Dialect):
    name = "duckdb"

    def literal(self, value) -> str:
        # X'..' is not a DuckDB blob literal (it parses as something else) —
        # caught by the hypothesis round-trip property
        if isinstance(value, bytes):
            return f"unhex('{value.hex()}')"
        return super().literal(value)


class SQLiteDialect(Dialect):
    name = "sqlite"


class PostgresDialect(Dialect):
    name = "postgres"

    def literal(self, value) -> str:
        if isinstance(value, bytes):
            return f"decode('{value.hex()}', 'hex')"
        return super().literal(value)


class MySQLDialect(Dialect):
    name = "mysql"
    quote_char = "`"

    def literal(self, value) -> str:
        # MySQL's default sql_mode treats backslash as a string escape —
        # it must be doubled or a trailing backslash breaks the literal's
        # closing quote (the same boundary-break class as ClickHouse)
        if isinstance(value, str):
            s = value.replace("\\", "\\\\").replace("'", "''")
            return f"'{s}'"
        return self._literal_nonstr(value)

    def _literal_nonstr(self, value) -> str:
        # MySQL's CAST accepts DOUBLE only from 8.0.17 and never DOUBLE
        # PRECISION; an exponent-notation numeric literal IS approximate
        # (double) in MySQL, so emit that instead. repr() is the shortest
        # round-tripping decimal → parses back to the identical double.
        if isinstance(value, float) and not isinstance(value, bool):
            if not math.isfinite(value):
                # MySQL has no NaN/Infinity literals; raising makes
                # translate_filters keep the filter Spark-side (Inexact)
                raise ValueError("MySQL cannot represent NaN/Infinity")
            r = repr(value)
            return r if ("e" in r or "E" in r) else r + "E0"
        return super().literal(value)


class ClickHouseDialect(Dialect):
    """ClickHouse: backtick identifiers, function-style temporal literals
    (`TIMESTAMP '...'` keyword syntax is not ClickHouse SQL), `unhex` for
    binary. Read-path only, mirroring the reference's clickhouse crate
    (crates/clickhouse has no write.rs)."""

    name = "clickhouse"
    quote_char = "`"

    def literal(self, value) -> str:
        if isinstance(value, str):
            # ClickHouse treats backslash as an escape inside single-quoted
            # strings (unlike ANSI) — it must be doubled BEFORE quote
            # handling or a trailing backslash swallows the closing quote
            # (string-boundary break / injection vector)
            s = value.replace("\\", "\\\\").replace("'", "\\'")
            return f"'{s}'"
        if isinstance(value, bool):
            return "true" if value else "false"
        if isinstance(value, dt.datetime):
            return f"toDateTime64('{value.isoformat(sep=' ')}', 6)"
        if isinstance(value, dt.date) and not isinstance(value, dt.datetime):
            return f"toDate32('{value.isoformat()}')"
        if isinstance(value, bytes):
            return f"unhex('{value.hex()}')"
        return super().literal(value)

    def like_suffix(self) -> str:
        # ClickHouse LIKE has no ESCAPE clause; backslash is its fixed
        # escape character already — exactly what like_escape produces
        return ""


class ODBCDialect(Dialect):
    """Driver-agnostic passthrough (crates/odbc): the remote engine behind an
    ODBC DSN is unknown, so only ANSI-portable SQL is generated and every
    non-trivial filter stays 'Inexact' (re-checked by Spark)."""

    name = "odbc"


class ADBCDialect(Dialect):
    """Arrow-native driver passthrough (crates/adbc). ANSI SQL generation;
    results arrive as Arrow batches from the driver itself."""

    name = "adbc"


DIALECTS = {
    d.name: d()
    for d in (
        Dialect,
        DuckDBDialect,
        SQLiteDialect,
        PostgresDialect,
        MySQLDialect,
        ClickHouseDialect,
        ODBCDialect,
        ADBCDialect,
    )
}


def translate_filters(
    filters, dialect: Dialect
) -> Tuple[List[str], List]:
    """Split pushed DSv2 filters into (SQL clauses, unsupported filters).

    Mirrors the reference's Exact/Unsupported split: a filter we translate is
    dropped from Spark's plan, so only translate what the remote engine will
    evaluate with identical semantics. Anything else is returned for Spark to
    re-check post-scan (reference marks those 'Inexact' — table.rs:266 for
    the Mongo analog).
    """
    from pyspark.sql.datasource import (
        EqualNullSafe,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
        Not,
        StringContains,
        StringEndsWith,
        StringStartsWith,
    )

    clauses: List[str] = []
    unsupported: List = []

    def col(attr) -> str:
        return dialect.quote_compound(attr)

    def one(f, negate: bool = False) -> Optional[str]:
        if isinstance(f, Not):
            inner = one(f.child, negate=not negate)
            return inner
        neg = "NOT " if negate else ""
        if isinstance(f, EqualTo):
            op = "<>" if negate else "="
            return f"{col(f.attribute)} {op} {dialect.literal(f.value)}"
        if isinstance(f, EqualNullSafe):
            return f"{neg}({col(f.attribute)} IS NOT DISTINCT FROM {dialect.literal(f.value)})"
        if isinstance(f, GreaterThan):
            return f"{neg}({col(f.attribute)} > {dialect.literal(f.value)})"
        if isinstance(f, GreaterThanOrEqual):
            return f"{neg}({col(f.attribute)} >= {dialect.literal(f.value)})"
        if isinstance(f, LessThan):
            return f"{neg}({col(f.attribute)} < {dialect.literal(f.value)})"
        if isinstance(f, LessThanOrEqual):
            return f"{neg}({col(f.attribute)} <= {dialect.literal(f.value)})"
        if isinstance(f, In):
            vals = ", ".join(dialect.literal(v) for v in f.value)
            return f"{col(f.attribute)} {'NOT ' if negate else ''}IN ({vals})"
        if isinstance(f, IsNull):
            return f"{col(f.attribute)} IS {'NOT ' if negate else ''}NULL"
        if isinstance(f, IsNotNull):
            return f"{col(f.attribute)} IS {'' if negate else 'NOT '}NULL"
        # LIKE patterns go through dialect.literal so string-escape rules
        # (MySQL/ClickHouse backslash doubling) apply to the pattern body
        if isinstance(f, StringContains):
            pat = dialect.literal("%" + dialect.like_escape(f.value) + "%")
            return f"{col(f.attribute)} {'NOT ' if negate else ''}LIKE {pat}{dialect.like_suffix()}"
        if isinstance(f, StringStartsWith):
            pat = dialect.literal(dialect.like_escape(f.value) + "%")
            return f"{col(f.attribute)} {'NOT ' if negate else ''}LIKE {pat}{dialect.like_suffix()}"
        if isinstance(f, StringEndsWith):
            pat = dialect.literal("%" + dialect.like_escape(f.value))
            return f"{col(f.attribute)} {'NOT ' if negate else ''}LIKE {pat}{dialect.like_suffix()}"
        return None

    for f in filters:
        try:
            clause = one(f)
        except Exception:
            clause = None
        if clause is None:
            unsupported.append(f)
        else:
            clauses.append(clause)
    return clauses, unsupported


def build_select(
    dialect: Dialect,
    relation: str,
    columns: Optional[Sequence[str]] = None,
    where: Sequence[str] = (),
    order_by: Sequence[str] = (),
    limit: Optional[int] = None,
) -> str:
    """Compose the pushed-down SELECT — the analog of ``scan_to_sql``
    (reference mod.rs:122-134: projection + filters + limit into one SQL).

    An empty projection becomes ``SELECT 1`` with a synthetic column, the
    same trick the reference uses for COUNT(*)-only scans (mod.rs:258-276).
    """
    if columns:
        proj = ", ".join(dialect.quote_ident(c) for c in columns)
    elif columns is not None:
        proj = "1 AS one"
    else:
        proj = "*"
    sql = f"SELECT {proj} FROM {relation}"
    if where:
        sql += " WHERE " + " AND ".join(f"({c})" for c in where)
    if order_by:
        sql += " ORDER BY " + ", ".join(order_by)
    if limit is not None:
        sql += f" LIMIT {int(limit)}"
    return sql
