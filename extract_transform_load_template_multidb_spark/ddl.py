"""Schema introspection & cross-dialect DDL generation (SURVEY.md §2 S11–S13,
W8–W10) — the Spark-native re-expression of the reference's
``Automatic Query for Create Table.ipynb``.

The notebook reads catalog metadata (SQL Server INFORMATION_SCHEMA ipynb:67,
MySQL DESCRIBE ipynb:169, BigQuery INFORMATION_SCHEMA ipynb:269), applies a
static BigQuery→SQL Server type map (ipynb:253-262) and a data-driven
VARCHAR→NVARCHAR promotion rule (sample ≤1000 rows, promote on regex
``[^a-zA-Z0-9]``, ipynb:154,:182,:187,:193), then emits ``CREATE TABLE``
text. Here the canonical schema is Spark's ``StructType``; per-dialect type
tables translate it, and the promotion rule is a distributed ``rlike``
aggregate with the notebook's sampling bound as a ``LIMIT`` pushed into the
scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

DIALECTS = ("mysql", "sqlserver", "postgresql", "bigquery")

# BigQuery type → SQL Server type: every entry of the notebook's static map
# (ipynb:253-262), ``VARCHAR(255)`` fallback for unknown types (ipynb:281).
BQ_TO_SQLSERVER: dict[str, str] = {
    "STRING": "VARCHAR(255)",
    "INT64": "BIGINT",
    "FLOAT64": "FLOAT",
    "BOOL": "BIT",
    "NUMERIC": "DECIMAL(38,9)",
    "BIGNUMERIC": "DECIMAL(38,9)",
    "TIMESTAMP": "DATETIME",
    "DATE": "DATE",
    "TIME": "TIME",
}
BQ_FALLBACK = "VARCHAR(255)"


def bq_type_to_sqlserver(bq_type: str) -> str:
    return BQ_TO_SQLSERVER.get(bq_type.upper(), BQ_FALLBACK)


# Spark type → per-dialect column type (mirrors JdbcDialect.getJDBCType).
_SPARK_TO_DIALECT: dict[str, dict[type, str]] = {
    "mysql": {
        StringType: "VARCHAR(255)",
        LongType: "BIGINT",
        IntegerType: "INT",
        ShortType: "SMALLINT",
        ByteType: "TINYINT",
        DoubleType: "DOUBLE",
        FloatType: "FLOAT",
        BooleanType: "BOOLEAN",
        TimestampType: "DATETIME",
        TimestampNTZType: "DATETIME",
        DateType: "DATE",
        BinaryType: "BLOB",
    },
    "sqlserver": {
        StringType: "VARCHAR(255)",
        LongType: "BIGINT",
        IntegerType: "INT",
        ShortType: "SMALLINT",
        ByteType: "TINYINT",
        DoubleType: "FLOAT",
        FloatType: "REAL",
        BooleanType: "BIT",
        TimestampType: "DATETIME",
        TimestampNTZType: "DATETIME",
        DateType: "DATE",
        BinaryType: "VARBINARY(MAX)",
    },
    "postgresql": {
        StringType: "VARCHAR(255)",
        LongType: "BIGINT",
        IntegerType: "INTEGER",
        ShortType: "SMALLINT",
        ByteType: "SMALLINT",
        DoubleType: "DOUBLE PRECISION",
        FloatType: "REAL",
        BooleanType: "BOOLEAN",
        TimestampType: "TIMESTAMP",
        TimestampNTZType: "TIMESTAMP",
        DateType: "DATE",
        BinaryType: "BYTEA",
    },
    "bigquery": {
        StringType: "STRING",
        LongType: "INT64",
        IntegerType: "INT64",
        ShortType: "INT64",
        ByteType: "INT64",
        DoubleType: "FLOAT64",
        FloatType: "FLOAT64",
        BooleanType: "BOOL",
        TimestampType: "TIMESTAMP",
        TimestampNTZType: "TIMESTAMP",
        DateType: "DATE",
        BinaryType: "BYTES",
    },
}


def spark_type_to_dialect(dt: DataType, dialect: str) -> str:
    if dialect not in DIALECTS:
        raise ValueError(f"unknown dialect {dialect!r}; supported: {DIALECTS}")
    if isinstance(dt, DecimalType):
        if dialect == "bigquery":
            return "BIGNUMERIC" if (dt.precision > 38 or dt.scale > 9) else "NUMERIC"
        return f"DECIMAL({dt.precision},{dt.scale})"
    mapped = _SPARK_TO_DIALECT[dialect].get(type(dt))
    if mapped is None:
        # Unknown/nested type → the notebook's fallback (ipynb:281).
        return "STRING" if dialect == "bigquery" else BQ_FALLBACK
    return mapped


def _quote(name: str, dialect: str) -> str:
    if dialect == "sqlserver":
        return f"[{name}]"
    if dialect == "mysql":
        return f"`{name}`"
    return f'"{name}"'


def create_table_sql(
    table: str,
    schema: StructType,
    dialect: str = "mysql",
    nvarchar_columns: set[str] | None = None,
) -> str:
    """Emit ``CREATE TABLE`` DDL for the dialect (notebook W8, ipynb:87-100).

    ``nvarchar_columns`` (from :func:`nvarchar_promotions`) upgrades those
    string columns to ``NVARCHAR(255)`` on dialects that distinguish
    national character types (ipynb:187-193).
    """
    nvarchar_columns = nvarchar_columns or set()
    cols = []
    for f in schema.fields:
        col_type = spark_type_to_dialect(f.dataType, dialect)
        if (
            f.name in nvarchar_columns
            and isinstance(f.dataType, StringType)
            and dialect in ("mysql", "sqlserver")
        ):
            col_type = "NVARCHAR(255)"
        null_sql = "" if f.nullable else " NOT NULL"
        cols.append(f"    {_quote(f.name, dialect)} {col_type}{null_sql}")
    cols_sql = ",\n".join(cols)
    return f"CREATE TABLE {_quote(table, dialect)} (\n{cols_sql}\n);"


def nvarchar_promotions(
    df: DataFrame, sample_rows: int = 1000, pattern: str = "[^a-zA-Z0-9]"
) -> set[str]:
    """Data-driven VARCHAR→NVARCHAR promotion (notebook W10).

    The notebook samples ≤1000 rows per VARCHAR column (ipynb:182) and
    promotes when any value matches ``[^a-zA-Z0-9]`` (ipynb:154). Here the
    sample bound is a ``limit`` (pushed to the scan) and the rule is ONE
    aggregate over all string columns at once — a single pass, no per-column
    queries, no driver-side row loop.
    """
    str_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, StringType)
    ]
    if not str_cols:
        return set()
    sample = df.select(*str_cols).limit(sample_rows)
    flags = sample.agg(
        *[
            F.max(
                F.when(F.col(c).rlike(pattern), F.lit(1)).otherwise(F.lit(0))
            ).alias(c)
            for c in str_cols
        ]
    ).collect()[0]
    return {c for c in str_cols if flags[c] == 1}


def introspect_jdbc_information_schema(
    spark: SparkSession, jdbc_opts: dict[str, str], table: str, db_schema: str = None
) -> DataFrame:
    """Catalog scan over INFORMATION_SCHEMA.COLUMNS via JDBC (S11/S13).

    Returns (column_name, data_type, character_maximum_length) rows, exactly
    the notebook's ``get_table_schema`` shape (ipynb:62-73), as a DataFrame.

    Names are interpolated into the pushed-down query as quoted literals, so
    embedded single quotes are doubled (standard SQL escaping) — a quote in a
    configured name can neither break the statement nor inject predicates.
    """

    def _lit(name: str) -> str:
        return name.replace("'", "''")

    where = f"table_name = '{_lit(table)}'"
    if db_schema:
        where += f" AND table_schema = '{_lit(db_schema)}'"
    q = (
        "(SELECT column_name, data_type, character_maximum_length "
        f"FROM information_schema.columns WHERE {where}) AS cols"
    )
    reader = spark.read.format("jdbc").option("dbtable", q)
    for k, v in jdbc_opts.items():
        if k != "dbtable":
            reader = reader.option(k, v)
    return reader.load()


def schema_from_information_rows(
    rows: list[tuple[str, str, int | None]],
) -> StructType:
    """Build a StructType from (name, type, max_len) catalog tuples —
    the inverse direction of DDL generation, used when a source DB's
    catalog is the only schema authority."""
    type_map: dict[str, DataType] = {
        "varchar": StringType(),
        "nvarchar": StringType(),
        "char": StringType(),
        "text": StringType(),
        "string": StringType(),
        "bigint": LongType(),
        "int64": LongType(),
        "int": IntegerType(),
        "integer": IntegerType(),
        "smallint": ShortType(),
        "tinyint": ByteType(),
        "float": DoubleType(),
        "float64": DoubleType(),
        "double": DoubleType(),
        "real": FloatType(),
        "bit": BooleanType(),
        "bool": BooleanType(),
        "boolean": BooleanType(),
        "datetime": TimestampType(),
        "timestamp": TimestampType(),
        "date": DateType(),
        "numeric": DecimalType(38, 9),
        "decimal": DecimalType(38, 9),
        "bignumeric": DecimalType(38, 9),
    }
    fields = []
    for name, type_name, _max_len in rows:
        dt = type_map.get(type_name.strip().lower(), StringType())
        fields.append(StructField(name, dt, nullable=True))
    return StructType(fields)
