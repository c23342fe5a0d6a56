"""Warehouse-destination SQL seam (≡ SqlOperations/JdbcSqlOperations +
the copy-destination stage step). The postgres-flavored script is
EXECUTED on DuckDB against the real staged shards — the protocol is
value-checked end to end, not just string-pinned."""

from __future__ import annotations

import json

import duckdb
import pytest

from airbyte_spark.destinations_sql import (
    create_raw_table_sql,
    render_sync_script,
    stage_raw_shards,
    write_warehouse_sync,
)


def _events(spark, sf_dir, n=300):
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "event_type", "value")
        .limit(n)
    )


def test_script_executes_on_duckdb_and_loads_exactly(spark, sf_dir, tmp_path):
    src = _events(spark, sf_dir)
    path = write_warehouse_sync(
        src, str(tmp_path / "wh"), "public", "events", dialect="postgres",
        n_shards=4,
    )
    script = open(path).read()
    # DuckDB speaks the postgres script modulo the JSONB storage type
    con = duckdb.connect()
    con.execute(script.replace(" JSONB", " JSON"))
    rows = con.sql(
        'SELECT _airbyte_data FROM "public"."_airbyte_raw_events"'
    ).fetchall()
    got = sorted(
        (d["event_id"], d["event_type"], d["value"])
        for (j,) in rows
        for d in [json.loads(j)]
    )
    want = sorted(map(tuple, src.collect()))
    assert got == want and len(got) == 300
    # tmp table dropped by the script's own cleanup
    assert con.sql(
        "SELECT count(*) FROM information_schema.tables "
        "WHERE table_name LIKE '_airbyte_tmp%'"
    ).fetchone()[0] == 0

    # deterministic ab_ids + anti-join promote → re-running the same
    # script is exactly-once, not a double-load (crash-retry safe)
    con.execute(script.replace(" JSONB", " JSON"))
    assert con.sql('SELECT count(*) FROM "public"."_airbyte_raw_events"').fetchone()[0] == 300
    files = sorted(
        str(p) for p in (tmp_path / "wh" / "stage").glob("*.csv")
    )
    over = render_sync_script("public", "events", files, "postgres", mode="overwrite")
    con.execute(over.replace(" JSONB", " JSON"))
    assert con.sql('SELECT count(*) FROM "public"."_airbyte_raw_events"').fetchone()[0] == 300


def test_duplicate_rows_load_with_distinct_ab_ids(spark, sf_dir, tmp_path):
    """A legal sync may carry identical records (the reference loads them
    under random UUID ab_ids). The occurrence-salted content hash must
    give each copy a distinct ab_id so the PK'd tmp table accepts the
    batch — executed on DuckDB, not just asserted on the ids."""
    one = _events(spark, sf_dir, n=100)
    src = one.union(one).union(one.limit(20))  # 100 + 100 dups + 20 more
    path = write_warehouse_sync(
        src, str(tmp_path / "wh"), "public", "events", dialect="postgres",
        n_shards=2,
    )
    con = duckdb.connect()
    con.execute(open(path).read().replace(" JSONB", " JSON"))
    n, n_ids = con.sql(
        'SELECT count(*), count(DISTINCT _airbyte_ab_id) '
        'FROM "public"."_airbyte_raw_events"'
    ).fetchone()
    assert n == 220 and n_ids == 220
    # still replay-stable: re-running the script double-loads nothing
    con.execute(open(path).read().replace(" JSONB", " JSON"))
    assert con.sql(
        'SELECT count(*) FROM "public"."_airbyte_raw_events"'
    ).fetchone()[0] == 220


def test_staged_ab_ids_are_deterministic(spark, sf_dir, tmp_path):
    src = _events(spark, sf_dir, n=50)
    f1 = stage_raw_shards(src, str(tmp_path / "s1"), n_shards=2)
    f2 = stage_raw_shards(src, str(tmp_path / "s2"), n_shards=2)
    ids = lambda fs: sorted(  # noqa: E731
        r["_airbyte_ab_id"]
        for f in fs
        for r in spark.read.option("header", True).csv(f).collect()
    )
    assert ids(f1) == ids(f2) and len(ids(f1)) == 50


@pytest.mark.parametrize(
    "dialect,jt,q",
    [
        ("postgres", "JSONB", '"'),
        ("redshift", "SUPER", '"'),
        ("mysql", "JSON", "`"),
        ("snowflake", "VARIANT", '"'),
        ("bigquery", "JSON", "`"),
    ],
)
def test_dialect_rendering(dialect, jt, q):
    ddl = create_raw_table_sql("My Schema", "_airbyte_raw_s", dialect)
    assert f"_airbyte_data {jt}" in ddl
    assert ddl.startswith(f"CREATE TABLE IF NOT EXISTS {q}my_schema{q}.")
    script = render_sync_script("public", "s", ["/tmp/x.csv"], dialect)
    assert script.startswith("BEGIN;") and script.rstrip().endswith("COMMIT;")
    # stage load present, tmp promoted then dropped, in that order
    i_load = script.index("/tmp/x.csv")
    i_promote = script.index("INSERT INTO")
    i_drop = script.rindex("DROP TABLE")
    assert i_load < i_promote < i_drop


def test_identifier_caps_apply_to_rendered_names():
    long = "x" * 200
    ddl = create_raw_table_sql("public", long, "postgres")
    ident = ddl.split('."')[1].split('"')[0]
    assert len(ident) == 63  # postgres cap from DIALECT_MAX_LEN
    with pytest.raises(ValueError):
        render_sync_script("public", "s", [], "nosuchdb")


def test_normalization_types_raw_json_back_to_source(spark, sf_dir, tmp_path):
    """Basic normalization (≡ base-normalization's generated model): the
    typed table built by the rendered SQL from the raw JSON must equal
    the source frame value-for-value, including micro-precision
    timestamps, with the hashid stamped per row. Executed on DuckDB."""
    from airbyte_spark.destinations_sql import render_normalization_script

    src = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "event_type", "value", "ts")
        .limit(200)
    )
    path = write_warehouse_sync(
        src, str(tmp_path / "wh"), "public", "events", dialect="postgres",
        n_shards=2,
    )
    con = duckdb.connect()
    con.execute(open(path).read().replace(" JSONB", " JSON"))
    norm = render_normalization_script("public", "events", src.schema, "postgres")
    con.execute(norm.replace(" JSONB", " JSON"))
    got = sorted(
        con.sql(
            'SELECT event_id, event_type, value, ts FROM "public"."events"'
        ).fetchall()
    )
    want = sorted(map(tuple, src.collect()))
    assert got == want and len(got) == 200
    # hashid present and unique per distinct payload
    n_hash = con.sql(
        'SELECT count(DISTINCT _airbyte_events_hashid) FROM "public"."events"'
    ).fetchone()[0]
    assert n_hash == 200
    # idempotent re-normalization (anti-join on ab_id): no duplicates
    con.execute(norm.replace(" JSONB", " JSON"))
    assert con.sql('SELECT count(*) FROM "public"."events"').fetchone()[0] == 200


def _postgres_json_on_duckdb(con, script: str) -> str:
    """DuckDB speaks the postgres normalization script modulo the JSONB
    spellings: rename the types and length function, and define
    jsonb_typeof (postgres answers in lower case, DuckDB in upper)."""
    con.execute("CREATE OR REPLACE MACRO jsonb_typeof(j) AS lower(json_type(j))")
    return script.replace(" JSONB", " JSON").replace(
        "jsonb_array_length", "json_array_length"
    )


def test_normalization_nested_child_tables_match_spark_unnest(
    spark, sf_dir, tmp_path
):
    """The nested half of basic normalization (≡ the child
    StreamProcessors base-normalization spawns per nested property):
    array-of-struct, scalar-array and object properties each render a
    child table whose DDL+INSERT DuckDB executes, and the array child
    rows equal operators/unnest.unnest_child's output exactly (1-based
    index, per-element fields, null-safe). Idempotent re-run inserts
    nothing."""
    import pyspark.sql.functions as SF

    from airbyte_spark.destinations_sql import render_normalization_script
    from airbyte_spark.operators.unnest import unnest_child

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "event_type", "value")
        .limit(120)
    )
    src = ev.select(
        "event_id",
        "value",
        SF.when(
            SF.col("event_id") % 7 != 0,  # % 7 == 0 → NULL array: no children
            SF.expr(
                "transform(sequence(1, CAST(event_id % 4 AS INT)), "
                "i -> named_struct('sku', concat('s-', i), "
                "'qty', CAST(event_id * 10 + i AS BIGINT)))"
            ),
        ).alias("items"),
        SF.expr(
            "transform(sequence(1, CAST(event_id % 3 AS INT)), "
            "i -> concat('tag-', i))"
        ).alias("tags"),
        SF.expr(
            "named_struct('lang', event_type, 'score', CAST(value AS DOUBLE))"
        ).alias("meta"),
    )
    path = write_warehouse_sync(
        src, str(tmp_path / "wh"), "public", "events", dialect="postgres",
        n_shards=2,
    )
    con = duckdb.connect()
    con.execute(open(path).read().replace(" JSONB", " JSON"))
    norm = render_normalization_script("public", "events", src.schema, "postgres")
    norm_dd = _postgres_json_on_duckdb(con, norm)
    con.execute(norm_dd)

    # parent typed table: scalar columns only, nested ones in children
    pcols = {
        r[0]
        for r in con.sql(
            "SELECT column_name FROM information_schema.columns "
            "WHERE table_name = 'events'"
        ).fetchall()
    }
    assert {"event_id", "value"} <= pcols
    assert not ({"items", "tags", "meta"} & pcols)

    # array-of-struct child ≡ Spark unnest_child (join hashid → event_id)
    got = sorted(
        con.sql(
            'SELECT p.event_id, c._airbyte_index, c.sku, c.qty '
            'FROM "public"."events_items" c '
            'JOIN "public"."events" p '
            'ON c._airbyte_events_hashid = p._airbyte_events_hashid'
        ).fetchall()
    )
    want = sorted(
        (r["event_id"], r["_idx"], r["item"]["sku"], r["item"]["qty"])
        for r in unnest_child(src, "items", ["event_id"], value_alias="item")
        .collect()
    )
    assert got == want and len(got) > 0
    # scalar-array child: one row per element, property-named column
    n_tags = con.sql('SELECT count(*) FROM "public"."events_tags"').fetchone()[0]
    assert n_tags == src.select(SF.explode("tags")).count()
    # object child: one row per non-null parent, typed subfields
    meta = con.sql(
        'SELECT count(*), count(DISTINCT lang), max(score) '
        'FROM "public"."events_meta"'
    ).fetchone()
    assert meta[0] == src.count()
    # idempotent re-run: child tables do not grow
    con.execute(norm_dd)
    assert (
        con.sql('SELECT count(*) FROM "public"."events_items"').fetchone()[0]
        == len(got)
    )
    assert con.sql('SELECT count(*) FROM "public"."events_tags"').fetchone()[0] == n_tags

    # non-postgres dialects refuse nested rendering rather than emit
    # untested SQL
    with pytest.raises(NotImplementedError):
        render_normalization_script("public", "events", src.schema, "snowflake")


def test_normalization_dialect_rendering():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from airbyte_spark.destinations_sql import normalize_sql

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    pg = normalize_sql("public", "s", schema, "postgres")
    assert "(_airbyte_data->>'id')" in pg and "AS BIGINT" in pg
    sf = normalize_sql("public", "s", schema, "snowflake")
    assert '_airbyte_data:"name"::VARCHAR' in sf
    bq = normalize_sql("public", "s", schema, "bigquery")
    assert "JSON_VALUE(_airbyte_data, '$.score')" in bq and "FLOAT64" in bq
    my = normalize_sql("public", "s", schema, "mysql")
    assert "JSON_UNQUOTE(JSON_EXTRACT(_airbyte_data, '$.name'))" in my


def test_child_normalization_guards_on_json_type():
    """A JSON-null nested value is NOT NULL to SQL. On postgres,
    jsonb_array_length raises on it (aborting the whole normalization)
    and an object child got an all-NULL row. Both paths must test the
    JSON type: the array length only under a CASE on jsonb_typeof (the
    recursive-CTE bound and the row bound), and the row guard on 'array' /
    'object'. DuckDB's json_array_length returns 0 for a JSON null, so the
    array half is pinned on the rendered SQL."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from airbyte_spark.destinations_sql import (
        normalize_child_sql,
        render_normalization_script,
    )

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("items", ArrayType(StructType([StructField("sku", StringType())]))),
            StructField("meta", StructType([StructField("lang", StringType())])),
        ]
    )
    items = normalize_child_sql("public", "ev", schema, schema["items"], "postgres")
    meta = normalize_child_sql("public", "ev", schema, schema["meta"], "postgres")
    arr = "(_airbyte_data->'items')"
    guarded_len = (
        f"CASE WHEN jsonb_typeof({arr}) = 'array' THEN jsonb_array_length({arr}) END"
    )
    # every length call sits under the type test: CTE bound and row bound
    assert items.count("jsonb_array_length(") == 2
    assert items.count(guarded_len) == 2
    assert f"max({guarded_len})" in items
    assert f"g.i < {guarded_len};" in items
    assert f"WHERE jsonb_typeof({arr}) = 'array'\n" in items
    assert "IS NOT NULL" not in items
    assert "WHERE jsonb_typeof((_airbyte_data->'meta')) = 'object'\n" in meta
    assert "IS NOT NULL" not in meta

    # executed: JSON nulls and wrongly typed values produce no child rows
    con = duckdb.connect()
    con.execute('CREATE SCHEMA "public"')
    con.execute(create_raw_table_sql("public", "_airbyte_raw_ev", "postgres").replace(" JSONB", " JSON"))
    rows = [
        {"id": 1, "items": [{"sku": "a"}, {"sku": "b"}], "meta": {"lang": "en"}},
        {"id": 2, "items": None, "meta": None},
        {"id": 3, "items": {"sku": "not-an-array"}, "meta": ["not-an-object"]},
        {"id": 4},
    ]
    for i, r in enumerate(rows):
        con.execute(
            'INSERT INTO "public"."_airbyte_raw_ev" VALUES (?, ?, now())',
            [f"ab-{i}", json.dumps(r)],
        )
    con.execute(
        _postgres_json_on_duckdb(con, render_normalization_script("public", "ev", schema, "postgres"))
    )
    assert con.sql('SELECT sku FROM "public"."ev_items" ORDER BY 1').fetchall() == [("a",), ("b",)]
    assert con.sql('SELECT lang FROM "public"."ev_meta"').fetchall() == [("en",)]
