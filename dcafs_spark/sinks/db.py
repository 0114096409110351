"""Database sinks: JDBC batch writer, SQLite writer, dialect DDL.

Parity target: reference `src/util/database/SQLDB.java:481-552`
(batched prepared inserts, async flush by batchsize/age, failed-row
retention) and `SqlTable.java:399-407,661-669` (CREATE TABLE
generation with per-dialect type maps).

Spark-first mapping:
  * server DBs (PostgreSQL/MySQL/MariaDB/MSSQL) → `df.write.jdbc`
    with `batchsize`/`numPartitions` — every partition writes its own
    prepared-statement batches in parallel, replacing the reference's
    single flush worker. Flush `age` ≈ the streaming trigger interval.
  * SQLite is a single-writer file DB → a driver-side writer using
    Python's stdlib sqlite3. Used for the reference's default
    store-to-sqlite flow and for tests (no JDBC driver jar needed).
    Each micro-batch arrives as one Arrow table (`df.toArrow()`, one
    Spark job for any partition count) and is bound from its columns
    in 10k-row chunks.
  * failed-insert retention (`SqlTable.clearRecords:484-521`) → the
    SQLite writer collects constraint-violating rows into a
    dead-letter list instead of dropping the batch.
"""

from __future__ import annotations

import datetime
import decimal
import sqlite3
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    FractionalType,
    IntegralType,
    MapType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

# rows per executemany (and per savepoint): also the most rows whose
# Python objects the SQLite writer holds at once
FLUSH_ROWS = 10000


def _adapt(v):
    """Coerce Spark row values to types sqlite3 can bind.

    DecimalType → float, timestamp/date → ISO text (the sqlite dialect
    stores temporals as TEXT, `SqlTable.java:661-669`), bool → int.
    Without this, a literal like `1.0` (DecimalType) or a timestamp
    column would fail binding and wrongly land in the dead letter."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (list, dict)):
        return str(v)
    return v


# the types `_adapt` rewrites; every other column binds as Arrow gives it
_ADAPTED_TYPES = (DecimalType, TimestampType, TimestampNTZType, DateType, BooleanType, ArrayType, MapType)


def _column_converter(dt: DataType):
    """Arrow column → list of sqlite3-bindable values, chosen once per
    column from its Spark type. Values equal `_adapt` over the Row
    objects a row-wise collect gives: nested and temporal values first
    take their Row forms (a UTC timestamp becomes a naive local
    datetime, a map's list of pairs a dict, a struct a Row) through
    the converter Spark itself uses to build Rows from Arrow."""
    # numpy's tolist is many times faster than Arrow's to_pylist
    if isinstance(dt, (StringType, BinaryType)):  # object array, None for null
        return lambda col: col.to_numpy().tolist()
    if isinstance(dt, (IntegralType, FractionalType)) and not isinstance(dt, DecimalType):
        # numpy would turn a null into NaN
        return lambda col: col.to_pylist() if col.null_count else col.to_numpy().tolist()
    row_form = ArrowTableToRowsConversion._create_converter(dt, none_on_identity=True)
    if isinstance(dt, _ADAPTED_TYPES):
        fix = _adapt if row_form is None else (lambda v: _adapt(row_form(v)))
    else:
        fix = row_form
    if fix is None:
        return lambda col: col.to_pylist()
    return lambda col: [fix(v) for v in col.to_pylist()]


_SQLITE_TYPES = {  # SqlTable.java:661-669 sqlite map
    "int": "INTEGER",
    "bigint": "INTEGER",
    "smallint": "INTEGER",
    "tinyint": "INTEGER",
    "double": "REAL",
    "decimal": "REAL",  # what `_adapt` binds a Decimal as
    "float": "REAL",
    "string": "TEXT",
    "boolean": "INTEGER",
    "timestamp": "TEXT",
    "date": "TEXT",
    "binary": "BLOB",
}

_SERVER_TYPES = {  # generic server map (:399-407): real timestamps, not TEXT
    "int": "INTEGER",
    "bigint": "BIGINT",
    "smallint": "SMALLINT",
    "tinyint": "SMALLINT",  # no TINYINT in standard SQL or PostgreSQL
    "double": "DOUBLE PRECISION",
    "decimal": "NUMERIC({p},{s})",
    "float": "REAL",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP",
    "date": "DATE",
    "binary": "BLOB",
}

_POSTGRES_TYPES = {  # SQLDB.java:84-95 POSTGRESQL; timestamptz per SqlTable.java:667
    **_SERVER_TYPES,
    "string": "TEXT",
    "timestamp": "TIMESTAMPTZ",
    "binary": "BYTEA",
}

_MYSQL_TYPES = {  # SQLDB.java:84-95 MYSQL/MARIADB
    **_SERVER_TYPES,
    "tinyint": "TINYINT",
    "double": "DOUBLE",
    "decimal": "DECIMAL({p},{s})",
    "float": "FLOAT",
    "string": "TEXT",
    "boolean": "TINYINT(1)",
    "timestamp": "DATETIME(6)",
    "binary": "BLOB",
}

_MSSQL_TYPES = {  # SQLDB.java:84-95 MSSQL
    **_SERVER_TYPES,
    "tinyint": "SMALLINT",  # T-SQL TINYINT is unsigned 0-255
    "double": "FLOAT",
    "decimal": "DECIMAL({p},{s})",
    "float": "REAL",
    "string": "NVARCHAR(MAX)",
    "boolean": "BIT",
    "timestamp": "DATETIME2",
    "binary": "VARBINARY(MAX)",
}

_DIALECT_TYPES = {
    "sqlite": _SQLITE_TYPES,
    "server": _SERVER_TYPES,
    "postgresql": _POSTGRES_TYPES,
    "postgres": _POSTGRES_TYPES,
    "mysql": _MYSQL_TYPES,
    "mariadb": _MYSQL_TYPES,
    "mssql": _MSSQL_TYPES,
}


def _quote_ident(name: str, dialect: str) -> str:
    if dialect in ("mysql", "mariadb"):
        return "`" + name.replace("`", "``") + "`"
    if dialect == "mssql":
        return "[" + name.replace("]", "]]") + "]"
    return '"' + name.replace('"', '""') + '"'


def ddl_for(
    df: DataFrame,
    table: str,
    dialect: str = "sqlite",
    if_not_exists: bool = True,
    unique_cols: list[str] | None = None,
) -> str:
    """CREATE TABLE from a DataFrame schema, per dialect (the five the
    reference ships: sqlite/mssql/mariadb/mysql/postgresql —
    SQLDB.java:84-95 — plus a generic 'server' map).

    `unique_cols` adds a table-level UNIQUE constraint — REQUIRED when
    the table backs an upsert (INSERT ... ON CONFLICT needs a matching
    unique index; without it every upsert row errors and dead-letters)."""
    types = _DIALECT_TYPES.get(dialect, _SERVER_TYPES)
    cols = []
    for f in df.schema.fields:
        sql_type = types.get(f.dataType.simpleString().split("(")[0], "TEXT")
        if isinstance(f.dataType, DecimalType):
            sql_type = sql_type.format(p=f.dataType.precision, s=f.dataType.scale)
        cols.append(f"{_quote_ident(f.name, dialect)} {sql_type}")
    if unique_cols:
        uq = ", ".join(_quote_ident(c, dialect) for c in unique_cols)
        cols.append(f"UNIQUE ({uq})")
    body = f"CREATE TABLE {_quote_ident(table, dialect)} ({', '.join(cols)})"
    if not if_not_exists:
        return body
    if dialect == "mssql":  # T-SQL has no IF NOT EXISTS clause
        name = table.replace("'", "''")
        return f"IF OBJECT_ID(N'{name}', N'U') IS NULL {body}"
    return body.replace("CREATE TABLE ", "CREATE TABLE IF NOT EXISTS ", 1)


def jdbc_batch_sink(
    url: str,
    table: str,
    batchsize: int = 1000,
    mode: str = "append",
    properties: dict | None = None,
):
    """foreachBatch sink writing via Spark's parallel JDBC writer.

    `batchsize` maps the reference's `<flush batchsize>` (default 30,
    `Database.java:23-26`) onto JDBC executeBatch sizing; each
    partition writes concurrently (the reference had one flush
    worker)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode(mode)
            .option("batchsize", batchsize)
            .jdbc(url, table, properties=properties or {})
        )

    return _sink


_SQLITE_TO_DTYPE = {
    "INTEGER": "integer",
    "BIGINT": "long",
    "REAL": "real",
    "DOUBLE": "real",
    "FLOAT": "real",
    "TEXT": "text",
    "VARCHAR": "text",
    "BOOLEAN": "flag",
    "TIMESTAMP": "text",
    "BLOB": "text",
}


def fields_from_table(db_path: str, table: str):
    """Infer a Generic ingest mapping from an existing table's columns —
    the reference's `gens:fromtable` (reads the DB schema and generates
    the delimited→typed mapping, `src/util/database/SQLDB.java:254-288`,
    `src/worker/LabelWorker.java:613-625`). Returns
    ``list[projection.Field]`` positioned in column order."""
    from dcafs_spark.operators.projection import Field

    con = sqlite3.connect(db_path)
    try:
        # same identifier quoting as every other sqlite statement here —
        # a table name containing a double quote must not break out
        cols = con.execute(f'PRAGMA table_info("{table.replace(chr(34), chr(34) * 2)}")').fetchall()
    finally:
        con.close()
    if not cols:
        raise ValueError(f"table {table!r} not found in {db_path}")
    fields = []
    for cid, name, decl_type, _notnull, _default, _pk in cols:
        base = (decl_type or "TEXT").upper().split("(")[0].strip()
        fields.append(Field(name=name, index=cid, dtype=_SQLITE_TO_DTYPE.get(base, "text")))
    return fields


@dataclass
class SqliteSink:
    """Single-writer SQLite sink with dead-letter retention.

    `key_cols` turns inserts into upserts (INSERT ... ON CONFLICT DO
    UPDATE): with a natural key this makes foreachBatch retries
    idempotent — Spark's at-least-once micro-batch replay becomes
    effectively-once at the sink (SURVEY §4.2 item 3)."""

    db_path: str
    table: str
    create: bool = True
    key_cols: list[str] | None = None
    dead_letter: list[tuple] = field(default_factory=list)

    def write_batch(self, df: DataFrame, batch_id: int = 0) -> int:
        """Insert (or upsert) one micro-batch; returns the rows stored.

        The batch is pulled with one `df.toArrow()` — one Spark job for
        any partition count — so the driver holds the whole micro-batch
        as Arrow columns (a file source bounds it with
        `maxFilesPerTrigger`), but builds Python row tuples for at most
        `FLUSH_ROWS` rows at a time. Rows are stored in frame order."""
        fields = df.schema.fields
        # quote identifiers exactly like ddl_for: a column named a SQL
        # keyword ('order', 'group') or containing spaces or quotes must
        # not break the INSERT and silently dead-letter every row
        q = {f.name: _quote_ident(f.name, "sqlite") for f in fields}
        placeholders = ",".join("?" for _ in fields)
        qtable = _quote_ident(self.table, "sqlite")
        insert = f"INSERT INTO {qtable} ({', '.join(q.values())}) VALUES ({placeholders})"
        if self.key_cols:
            sets = ", ".join(f"{q[c]} = excluded.{q[c]}" for c in q if c not in self.key_cols)
            keys = ", ".join(_quote_ident(c, "sqlite") for c in self.key_cols)
            # all-columns-are-key (pure dedup table): DO UPDATE SET with
            # an empty assignment list is a syntax error that would
            # dead-letter even valid first-time inserts
            action = f"DO UPDATE SET {sets}" if sets else "DO NOTHING"
            insert += f" ON CONFLICT ({keys}) {action}"
        convs = [_column_converter(f.dataType) for f in fields]
        con = sqlite3.connect(self.db_path)
        try:
            if self.create:
                # upserts need a unique index on the key: a plain-column
                # CREATE leaves ON CONFLICT matching nothing, erroring
                # EVERY row into dead_letter (silent total data loss)
                con.execute(ddl_for(df, self.table, "sqlite", unique_cols=self.key_cols))
            cur = con.cursor()
            table = df.toArrow()
            n = 0
            # zero-copy slices: exactly FLUSH_ROWS rows per flush whatever
            # the partition boundaries inside the table
            for start in range(0, table.num_rows, FLUSH_ROWS):
                chunk = table.slice(start, FLUSH_ROWS)
                values = [conv(col) for conv, col in zip(convs, chunk.columns)]
                n += self._flush(cur, insert, list(zip(*values)))
            con.commit()
            return n
        finally:
            con.close()

    def _flush(self, cur, insert: str, rows: list[tuple]) -> int:
        # savepoint: executemany aborts mid-batch on a bad row but keeps
        # the rows it already inserted — roll those back before the
        # row-level retry or they'd double-insert
        cur.execute("SAVEPOINT batch_flush")
        try:
            cur.executemany(insert, rows)
            cur.execute("RELEASE batch_flush")
            return len(rows)
        except sqlite3.Error:
            cur.execute("ROLLBACK TO batch_flush")
            cur.execute("RELEASE batch_flush")
            ok = 0
            for r in rows:  # row-level retry; keep failures (dead letter)
                try:
                    cur.execute(insert, r)
                    ok += 1
                except sqlite3.Error:
                    self.dead_letter.append(r)
            return ok

    def foreach_batch(self):
        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.write_batch(batch_df, batch_id)

        return _sink
