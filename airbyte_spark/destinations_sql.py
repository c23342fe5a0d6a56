"""Warehouse-destination SQL seam: render the JDBC sync protocol as
per-dialect SQL scripts over exported stage files.

Parity: the reference's warehouse destinations are SqlOperations
implementations (destination-jdbc/.../SqlOperations.java:23-94 +
JdbcSqlOperations.java:30-105) that (1) create the schema and a RAW table
of exactly three columns (_airbyte_ab_id VARCHAR PK, _airbyte_data as the
dialect's JSON type, _airbyte_emitted_at TIMESTAMP), (2) stage records
into a tmp table, (3) promote with a transactional
truncate/insert-select, and the copy-family destinations load the staged
files with the dialect's bulk COPY instead of row INSERTs
(CopyConsumerFactory / StreamCopier).

No warehouse exists in this sandbox, so the seam keeps the two halves a
deployment needs and nothing fake: the STAGE (a distributed Spark write
of csv shards — the expensive part, and the part that must scale) and the
SCRIPT (deterministic per-dialect SQL rendering of the protocol). A
deployment pipes the script to its warehouse client; tests EXECUTE the
postgres-flavored script on DuckDB against the real staged shards and
compare the loaded table to the source frame, so the protocol itself is
value-checked, not just string-pinned.

Scale shape: the only data-sized work is the shard write (one shuffle to
n_shards files); script rendering is O(columns). The raw-table shape
means warehouse load cost is independent of schema width — exactly why
the reference stages raw JSON.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from airbyte_spark.functions.names import DIALECT_MAX_LEN, normalize_identifier

# dialect → (identifier quote, JSON column type, timestamp type)
_DIALECT = {
    "postgres": ('"', "JSONB", "TIMESTAMP WITH TIME ZONE"),
    "redshift": ('"', "SUPER", "TIMESTAMPTZ"),
    "mysql": ("`", "JSON", "TIMESTAMP(6)"),
    "snowflake": ('"', "VARIANT", "TIMESTAMP_TZ"),
    "bigquery": ("`", "JSON", "TIMESTAMP"),
    "mssql": ('"', "NVARCHAR(MAX)", "DATETIMEOFFSET"),
    "oracle": ('"', "CLOB", "TIMESTAMP WITH TIME ZONE"),
}

AB_ID = "_airbyte_ab_id"
AB_DATA = "_airbyte_data"
AB_EMITTED = "_airbyte_emitted_at"


def quote_ident(name: str, dialect: str) -> str:
    q = _DIALECT[dialect][0]
    return f"{q}{normalize_identifier(name, dialect=dialect)}{q}"


def create_schema_sql(schema_name: str, dialect: str) -> str:
    """≡ JdbcSqlOperations.createSchemaQuery."""
    return f"CREATE SCHEMA IF NOT EXISTS {quote_ident(schema_name, dialect)};"


def create_raw_table_sql(schema_name: str, table: str, dialect: str) -> str:
    """≡ JdbcSqlOperations.createTableQuery — the three-column raw table
    every JDBC destination writes before normalization."""
    _, json_t, ts_t = _DIALECT[dialect]
    s, t = quote_ident(schema_name, dialect), quote_ident(table, dialect)
    return (
        f"CREATE TABLE IF NOT EXISTS {s}.{t} (\n"
        f"  {AB_ID} VARCHAR(36) PRIMARY KEY,\n"
        f"  {AB_DATA} {json_t},\n"
        f"  {AB_EMITTED} {ts_t}\n"
        f");"
    )


def drop_table_sql(schema_name: str, table: str, dialect: str) -> str:
    return (
        f"DROP TABLE IF EXISTS "
        f"{quote_ident(schema_name, dialect)}.{quote_ident(table, dialect)};"
    )


def copy_table_sql(
    schema_name: str, src_table: str, dst_table: str, dialect: str
) -> str:
    """≡ JdbcSqlOperations.copyTableQuery (the tmp → final promotion) —
    hardened to an anti-join insert: ab_ids here are DETERMINISTIC content
    hashes (not the reference's random UUIDs), so re-running a sync script
    after a half-failure re-promotes only the missing rows instead of
    violating the PK / double-loading. The engine's exactly-once idiom,
    carried to the warehouse."""
    s = quote_ident(schema_name, dialect)
    src, dst = quote_ident(src_table, dialect), quote_ident(dst_table, dialect)
    return (
        f"INSERT INTO {s}.{dst} SELECT * FROM {s}.{src} t "
        f"WHERE NOT EXISTS (SELECT 1 FROM {s}.{dst} d "
        f"WHERE d.{AB_ID} = t.{AB_ID});"
    )


def copy_from_stage_sql(
    schema_name: str, table: str, stage_files: list[str], dialect: str
) -> list[str]:
    """Bulk-load statements for the staged csv shards, one per file
    (≡ the StreamCopier copy step; each dialect's native bulk path)."""
    s, t = quote_ident(schema_name, dialect), quote_ident(table, dialect)
    out = []
    for f in stage_files:
        if dialect == "postgres":
            out.append(f"COPY {s}.{t} FROM '{f}' (FORMAT csv, HEADER);")
        elif dialect == "redshift":
            out.append(f"COPY {s}.{t} FROM '{f}' CSV IGNOREHEADER 1;")
        elif dialect == "snowflake":
            out.append(
                f"COPY INTO {s}.{t} FROM '{f}' "
                f"FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1);"
            )
        elif dialect == "bigquery":
            out.append(
                f"LOAD DATA INTO {s}.{t} FROM FILES "
                f"(format = 'CSV', skip_leading_rows = 1, uris = ['{f}']);"
            )
        elif dialect == "mysql":
            out.append(
                f"LOAD DATA INFILE '{f}' INTO TABLE {s}.{t} "
                f"FIELDS TERMINATED BY ',' ENCLOSED BY '\"' "
                f"IGNORE 1 LINES;"
            )
        else:  # mssql / oracle: generic bulk-insert placeholder statement
            out.append(f"BULK INSERT {s}.{t} FROM '{f}' WITH (FIRSTROW = 2);")
    return out


def stage_raw_shards(
    df: DataFrame, stage_dir: str, n_shards: int = 16
) -> list[str]:
    """The distributed half: serialize records to the raw-table triplet
    (deterministic md5 ab_id over the full row json, salted with the
    row's occurrence number among identical rows — replay-stable, like
    every id in this engine, yet unique when a legal sync carries
    duplicate records, so the PK'd tmp table loads them instead of
    failing; the reference gets the same property from random UUIDs at
    the cost of replayability) and write csv shards. One narrow map, one
    shuffle keyed on the content hash for the occurrence numbering, and
    one round-robin shuffle to bound file count; this is the only
    data-sized cost of a warehouse sync and it scales with executors,
    not the warehouse."""
    from pyspark.sql.window import Window

    # micro-precision temporal serialization: the typed-normalization
    # round trip must not truncate the engine's TimestampNTZ cursors to
    # Spark's millisecond JSON default
    _json_opts = {
        "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
        "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    }
    js = F.to_json(F.struct(*df.columns), _json_opts)
    occ = F.row_number().over(
        Window.partitionBy(F.md5(js)).orderBy(F.lit(1))
    )
    raw = df.select(
        js.alias(AB_DATA), occ.alias("_occ")
    ).select(
        F.md5(
            F.concat(F.col(AB_DATA), F.lit("#"), F.col("_occ"))
        ).alias(AB_ID),
        AB_DATA,
        F.date_format(
            F.current_timestamp(), "yyyy-MM-dd HH:mm:ss.SSSXXX"
        ).alias(AB_EMITTED),
    )
    (
        raw.repartition(n_shards)
        .write.mode("overwrite")
        .option("header", True)
        # RFC4180 quote doubling (escape = quote) — what warehouse COPY
        # loaders parse; Spark's default backslash escaping is not CSV
        .option("quote", '"')
        .option("escape", '"')
        .csv(stage_dir)
    )
    return sorted(
        os.path.join(stage_dir, f)
        for f in os.listdir(stage_dir)
        if f.endswith(".csv")
    )


# Spark type simpleString → per-dialect SQL type for the typed
# (normalized) table. Narrow map on purpose: the raw table is the durable
# contract; normalization covers the scalar types the reference's basic
# normalization casts (boolean < integer < number < string + temporal).
_SQL_TYPES = {
    "bigint": {"bigquery": "INT64", "default": "BIGINT"},
    "int": {"bigquery": "INT64", "default": "BIGINT"},
    "double": {
        "mysql": "DOUBLE", "snowflake": "FLOAT", "bigquery": "FLOAT64",
        "mssql": "FLOAT", "oracle": "BINARY_DOUBLE",
        "default": "DOUBLE PRECISION",
    },
    "float": {"default": "DOUBLE PRECISION"},
    "string": {
        "bigquery": "STRING", "oracle": "VARCHAR2(4000)",
        "default": "VARCHAR",
    },
    "boolean": {"mssql": "BIT", "oracle": "NUMBER(1)", "default": "BOOLEAN"},
    "timestamp": {"mssql": "DATETIME2", "default": "TIMESTAMP"},
    "timestamp_ntz": {"mssql": "DATETIME2", "default": "TIMESTAMP"},
    "date": {"default": "DATE"},
}


def _sql_type(spark_type: str, dialect: str) -> str:
    m = _SQL_TYPES.get(spark_type, _SQL_TYPES["string"])
    return m.get(dialect, m["default"])


def _json_get(col: str, dialect: str) -> str:
    """Per-dialect scalar extraction from the raw JSON column
    (≡ the dbt json_extract_scalar macro family the reference renders,
    stream_processor.py:439-448)."""
    if dialect == "postgres":
        return f"({AB_DATA}->>'{col}')"
    if dialect == "redshift":
        return f'{AB_DATA}."{col}"::VARCHAR'
    if dialect == "mysql":
        return f"JSON_UNQUOTE(JSON_EXTRACT({AB_DATA}, '$.{col}'))"
    if dialect == "snowflake":
        return f'{AB_DATA}:"{col}"::VARCHAR'
    return f"JSON_VALUE({AB_DATA}, '$.{col}')"  # bigquery / mssql / oracle


def create_typed_table_sql(
    schema_name: str, stream: str, spark_schema, dialect: str
) -> str:
    """DDL for the normalized (typed) table: one column per SCALAR stream
    field (nested object/array properties normalize into their own child
    tables, not parent columns) plus the reference's normalization
    metadata — _airbyte_ab_id, _airbyte_emitted_at,
    _airbyte_<stream>_hashid."""
    _, _, ts_t = _DIALECT[dialect]
    nested = {f.name for f in _nested_fields(spark_schema)}
    cols = [
        f"  {quote_ident(f.name, dialect)} "
        f"{_sql_type(f.dataType.simpleString(), dialect)}"
        for f in spark_schema.fields
        if f.name not in nested
    ]
    cols += [
        f"  {AB_ID} VARCHAR(36)",
        f"  {AB_EMITTED} {ts_t}",
        f"  {quote_ident(f'_airbyte_{stream}_hashid', dialect)} VARCHAR(32)",
    ]
    s, t = quote_ident(schema_name, dialect), quote_ident(stream, dialect)
    return f"CREATE TABLE IF NOT EXISTS {s}.{t} (\n" + ",\n".join(cols) + "\n);"


def normalize_sql(
    schema_name: str, stream: str, spark_schema, dialect: str
) -> str:
    """The basic-normalization SELECT (≡ base-normalization's generated
    dbt model, stream_processor.py:480-532 cast semantics): extract each
    scalar from the raw JSON, empty-string→NULL before temporal casts,
    cast to the dialect type, stamp the dbt_utils-style md5 hashid over
    the stringified fields, and insert idempotently (anti-join on ab_id —
    re-running normalization after a partial failure re-types only the
    missing rows). Nested properties are omitted from the typed columns
    (their child tables carry them) but stay in the hashid as JSON text,
    so the parent hashid remains content-complete."""
    nested = {f.name for f in _nested_fields(spark_schema)}
    sel = []
    for f in spark_schema.fields:
        if f.name in nested:
            continue
        ex = _json_get(f.name, dialect)
        st = f.dataType.simpleString()
        if st in ("timestamp", "timestamp_ntz", "date"):
            ex = f"NULLIF({ex}, '')"  # ≡ empty_string_to_null before cast
        sel.append(
            f"CAST({ex} AS {_sql_type(st, dialect)}) AS "
            f"{quote_ident(f.name, dialect)}"
        )
    hashid = _parent_hashid_expr(spark_schema, dialect)
    s = quote_ident(schema_name, dialect)
    raw = quote_ident(f"_airbyte_raw_{stream}", dialect)
    typed = quote_ident(stream, dialect)
    cols = ",\n  ".join(sel)
    return (
        f"INSERT INTO {s}.{typed}\n"
        f"SELECT\n  {cols},\n"
        f"  {AB_ID},\n  CAST({AB_EMITTED} AS "
        f"{_DIALECT[dialect][2]}),\n"
        f"  {hashid} AS {quote_ident(f'_airbyte_{stream}_hashid', dialect)}\n"
        f"FROM {s}.{raw} r\n"
        f"WHERE NOT EXISTS (SELECT 1 FROM {s}.{typed} t "
        f"WHERE t.{AB_ID} = r.{AB_ID});"
    )


def _nested_fields(spark_schema):
    from pyspark.sql.types import ArrayType
    from pyspark.sql.types import StructType as _SparkStruct

    return [
        f for f in spark_schema.fields
        if isinstance(f.dataType, (ArrayType, _SparkStruct))
    ]


def _child_columns(field):
    """(name, spark simpleString, json_sub_key|None) per child data
    column: struct (or array-of-struct) properties spread into one column
    per subfield; scalar arrays keep one column named after the
    property."""
    from pyspark.sql.types import ArrayType
    from pyspark.sql.types import StructType as _SparkStruct

    inner = (
        field.dataType.elementType
        if isinstance(field.dataType, ArrayType)
        else field.dataType
    )
    if isinstance(inner, _SparkStruct):
        return [(sf.name, sf.dataType.simpleString(), sf.name) for sf in inner.fields]
    return [(field.name, inner.simpleString(), None)]


def _parent_hashid_expr(spark_schema, dialect: str) -> str:
    parts = [f"COALESCE({_json_get(f.name, dialect)}, '')" for f in spark_schema.fields]
    return "MD5(" + " || '-' || ".join(parts) + ")"


def create_child_table_sql(
    schema_name: str, stream: str, field, dialect: str
) -> str:
    """DDL for one nested property's child table (≡ the child
    StreamProcessor's model, stream_processor.py:75-76,127-166): parent
    hashid FK + (for arrays) a 1-based _airbyte_index matching
    unnest_child's ordinality + the typed child columns + the raw ab_id
    (the idempotence key) + the child's own hashid."""
    from pyspark.sql.types import ArrayType

    _, _, ts_t = _DIALECT[dialect]
    child = f"{stream}_{field.name}"
    cols = [f"  {quote_ident(f'_airbyte_{stream}_hashid', dialect)} VARCHAR(32)"]
    if isinstance(field.dataType, ArrayType):
        cols.append(f"  {quote_ident('_airbyte_index', dialect)} BIGINT")
    cols += [
        f"  {quote_ident(n, dialect)} {_sql_type(st, dialect)}"
        for n, st, _ in _child_columns(field)
    ]
    cols += [
        f"  {AB_ID} VARCHAR(36)",
        f"  {quote_ident(f'_airbyte_{child}_hashid', dialect)} VARCHAR(32)",
    ]
    s, t = quote_ident(schema_name, dialect), quote_ident(child, dialect)
    return f"CREATE TABLE IF NOT EXISTS {s}.{t} (\n" + ",\n".join(cols) + "\n);"


def normalize_child_sql(
    schema_name: str, stream: str, spark_schema, field, dialect: str
) -> str:
    """The child-table normalization insert (≡ the nested half of
    base-normalization: stream_processor.py:127-166 spawns a child
    StreamProcessor per nested object/array property and renders
    `cross join unnest(...)` models; test_nested_streams fixture).

    Arrays unnest WITHOUT any engine-specific lateral construct: a
    recursive index CTE 0..max(len)-1 cross-joined and bounded per row by
    the row's own array length — portable SQL that both PostgreSQL and
    DuckDB execute (DuckDB's generate_series cannot take lateral or
    subquery arguments, and jsonb_array_elements is postgres-only).
    _airbyte_index is 1-based, matching operators/unnest.unnest_child's
    SQL-ordinality convention, so the two halves of the engine render
    identical child tables. Idempotence is at parent-row granularity: the
    anti-join on the raw ab_id re-normalizes only parents whose children
    are missing (same granularity as the parent insert's ab_id
    anti-join). NULL, JSON-null or wrongly typed nested values produce no
    child rows (the reference's null-safety filter).

    Only the postgres flavor is rendered (and executed on DuckDB in
    tests); other dialects raise rather than emit untested SQL."""
    from pyspark.sql.types import ArrayType

    if dialect != "postgres":
        raise NotImplementedError(
            "child-table normalization is rendered (and executed) for the "
            "postgres dialect only; flat normalization covers the rest"
        )
    s = quote_ident(schema_name, dialect)
    raw = quote_ident(f"_airbyte_raw_{stream}", dialect)
    child = f"{stream}_{field.name}"
    ct = quote_ident(child, dialect)
    parent_hash = _parent_hashid_expr(spark_schema, dialect)
    node = f"({AB_DATA}->'{field.name}')"
    is_array = isinstance(field.dataType, ArrayType)

    sel = [f"{parent_hash} AS {quote_ident(f'_airbyte_{stream}_hashid', dialect)}"]
    hash_tail = []
    if is_array:
        sel.append(
            f"CAST(g.i + 1 AS BIGINT) AS {quote_ident('_airbyte_index', dialect)}"
        )
        hash_tail.append("CAST(g.i + 1 AS VARCHAR)")
        elem = f"({node}->g.i)"
    else:
        elem = node
    for name, st, sub in _child_columns(field):
        ex = f"{elem}->>'{sub}'" if sub is not None else f"{node}->>g.i"
        if st in ("timestamp", "timestamp_ntz", "date"):
            ex = f"NULLIF({ex}, '')"
        sel.append(
            f"CAST({ex} AS {_sql_type(st, dialect)}) AS {quote_ident(name, dialect)}"
        )
        hash_tail.append(f"COALESCE({ex}, '')")
    sel.append(AB_ID)
    child_hash = " || '-' || ".join([parent_hash] + hash_tail)
    sel.append(
        f"MD5({child_hash}) AS {quote_ident(f'_airbyte_{child}_hashid', dialect)}"
    )
    cols = ",\n  ".join(sel)
    # a JSON null (or a value of the wrong kind) is NOT NULL to SQL:
    # jsonb_array_length raises on it and an object child would get an
    # all-NULL row, so both paths test the JSON type instead
    typed = f"jsonb_typeof({node}) = '{'array' if is_array else 'object'}'"
    guard = (
        f"WHERE {typed}\n"
        f"  AND NOT EXISTS (SELECT 1 FROM {s}.{ct} c "
        f"WHERE c.{AB_ID} = r.{AB_ID})"
    )
    if not is_array:
        return (
            f"INSERT INTO {s}.{ct}\n"
            f"SELECT\n  {cols}\nFROM {s}.{raw} r\n{guard};"
        )
    # CASE, not AND: postgres may reorder the quals of a WHERE clause
    arr_len = f"CASE WHEN {typed} THEN jsonb_array_length({node}) END"
    return (
        f"INSERT INTO {s}.{ct}\n"
        f"WITH RECURSIVE g(i) AS (\n"
        f"  SELECT 0\n"
        f"  UNION ALL\n"
        f"  SELECT i + 1 FROM g\n"
        f"  WHERE i + 1 < (SELECT COALESCE(max({arr_len}), 0) FROM {s}.{raw})\n"
        f")\n"
        f"SELECT\n  {cols}\nFROM {s}.{raw} r\nCROSS JOIN g\n"
        f"{guard}\n"
        f"  AND g.i < {arr_len};"
    )


def render_normalization_script(
    schema_name: str, stream: str, spark_schema, dialect: str
) -> str:
    """Typed-table creation + idempotent normalization insert as one
    transaction — the post-sync step SyncWorkflowImpl runs after the raw
    load (SyncWorkflowImpl.java:77-82 normalization activity). Nested
    object/array properties additionally render one child table each
    (DDL + unnesting insert) inside the same transaction, ≡ the child
    StreamProcessors base-normalization spawns per nested property."""
    stmts = [
        "BEGIN;",
        create_typed_table_sql(schema_name, stream, spark_schema, dialect),
        normalize_sql(schema_name, stream, spark_schema, dialect),
    ]
    for f in _nested_fields(spark_schema):
        stmts.append(create_child_table_sql(schema_name, stream, f, dialect))
        stmts.append(normalize_child_sql(schema_name, stream, spark_schema, f, dialect))
    stmts.append("COMMIT;")
    return "\n".join(stmts) + "\n"


def render_sync_script(
    schema_name: str,
    stream: str,
    stage_files: list[str],
    dialect: str,
    mode: str = "append",
) -> str:
    """The whole per-stream sync as ONE transactional script (≡ the
    buffered consumer's onClose: create → load tmp → promote → drop tmp,
    JdbcBufferedConsumerFactory). mode='overwrite' truncates the final
    table inside the same transaction (the reference's
    TRUNCATE+INSERT swap); 'append' just promotes."""
    if dialect not in _DIALECT:
        raise ValueError(f"unknown dialect {dialect!r}; one of {sorted(_DIALECT)}")
    if dialect not in DIALECT_MAX_LEN:
        raise ValueError(f"dialect {dialect!r} missing identifier rules")
    raw = f"_airbyte_raw_{stream}"
    tmp = f"_airbyte_tmp_{stream}"
    # overwrite resets via DROP+CREATE rather than TRUNCATE: same
    # transactional swap, but portable to engines whose indexes can't
    # truncate-then-reinsert identical keys inside one transaction
    reset = (
        [drop_table_sql(schema_name, raw, dialect),
         create_raw_table_sql(schema_name, raw, dialect)]
        if mode == "overwrite"
        else []
    )
    stmts = [
        "BEGIN;",
        create_schema_sql(schema_name, dialect),
        create_raw_table_sql(schema_name, raw, dialect),
        drop_table_sql(schema_name, tmp, dialect),
        create_raw_table_sql(schema_name, tmp, dialect),
        *copy_from_stage_sql(schema_name, tmp, stage_files, dialect),
        *reset,
        copy_table_sql(schema_name, tmp, raw, dialect),
        drop_table_sql(schema_name, tmp, dialect),
        "COMMIT;",
    ]
    return "\n".join(stmts) + "\n"


def write_warehouse_sync(
    df: DataFrame,
    dest_dir: str,
    schema_name: str,
    stream: str,
    dialect: str = "postgres",
    mode: str = "append",
    n_shards: int = 16,
) -> str:
    """Stage + render: csv shards under dest_dir/stage, the script at
    dest_dir/sync.sql. Returns the script path."""
    files = stage_raw_shards(df, os.path.join(dest_dir, "stage"), n_shards)
    script = render_sync_script(schema_name, stream, files, dialect, mode)
    os.makedirs(dest_dir, exist_ok=True)
    path = os.path.join(dest_dir, "sync.sql")
    with open(path, "w") as fh:
        fh.write(script)
    return path
