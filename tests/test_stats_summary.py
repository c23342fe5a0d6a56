"""Metadata-only stats: COUNT/MIN/MAX answered from the manifest alone.

≡ Iceberg snapshot-summary fast path: the fold over per-file footer stats
must be exact vs a full scan, must survive the data files being physically
unreachable (the proof nothing is scanned), and must refuse to report a
column any live file lacks stats for (exact-or-absent, never approximate).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from airbyte_spark.lake.format import LakeTable, PartitionSpec


def _table(spark, sf_dir, tmp_path, stat_cols):
    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), src.schema, PartitionSpec())
    for i in range(3):
        t.append(
            src.filter(F.col("event_id") % 3 == i),
            checkpoint_key=f"s{i}",
            stat_cols=stat_cols,
        )
    return t, src


def test_summary_matches_full_scan(spark, sf_dir, tmp_path):
    t, src = _table(spark, sf_dir, tmp_path, ["event_id", "value"])
    s = t.stats_summary()
    agg = src.agg(
        F.count("*"), F.min("event_id"), F.max("event_id"),
        F.min("value"), F.max("value"),
    ).first()
    assert s["rows"] == agg[0]
    assert s["columns"]["event_id"] == {"min": agg[1], "max": agg[2]}
    assert s["columns"]["value"]["min"] == agg[3]
    assert s["columns"]["value"]["max"] == agg[4]
    assert s["files"] == len(t.files()) and s["bytes"] > 0


def test_summary_needs_no_data_files(spark, sf_dir, tmp_path):
    """Rename every data file away: the summary must still answer (it is
    manifest arithmetic), while an actual read would now fail."""
    t, _ = _table(spark, sf_dir, tmp_path, ["event_id"])
    before = t.stats_summary()
    for e in t.files():
        p = os.path.join(t.path, e.path)
        os.rename(p, p + ".hidden")
    assert t.stats_summary() == before


def test_partial_stat_coverage_drops_column(spark, sf_dir, tmp_path):
    """A column missing stats in ANY live file must not appear — a partial
    fold would be silently wrong."""
    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "value"
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), src.schema, PartitionSpec())
    t.append(src.limit(50), checkpoint_key="a", stat_cols=["event_id", "value"])
    t.append(src.limit(50), checkpoint_key="b", stat_cols=["event_id"])
    s = t.stats_summary()
    assert "event_id" in s["columns"] and "value" not in s["columns"]


def test_empty_table_summary(spark, sf_dir, tmp_path):
    src = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    t = LakeTable.create(spark, str(tmp_path / "t"), src.schema, PartitionSpec())
    assert t.stats_summary() == {"rows": 0, "bytes": 0, "files": 0, "columns": {}}


def test_partitions_df_layout_stats(spark, sf_dir, tmp_path):
    """Per-partition metadata table: manifest-only, exact counts, skew
    ratio flags the hot bucket."""
    import pyspark.sql.functions as F

    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "event_type")
        .limit(300)
    )
    t = LakeTable.create(
        spark, str(tmp_path / "pt"), src.schema, PartitionSpec.bucket("event_id", 4)
    )
    t.append(src, stat_cols=["event_id"])
    # skew it: append a second copy of ONE bucket's rows, keys unchanged so
    # the copy lands in that same bucket
    hot = t.read().filter(F.pmod(F.xxhash64("event_id"), F.lit(4)) == 0)
    t.append(hot)
    pdf = {r["partition"]: r.asDict() for r in t.partitions_df().collect()}
    assert sum(p["rows"] for p in pdf.values()) == t.read().count()
    assert all(p["files"] >= 1 for p in pdf.values())
    ratios = {k: p["bytes_vs_median"] for k, p in pdf.items()}
    # the doubled bucket stands out
    assert max(ratios, key=ratios.get) == '{"p_bucket": 0}'
    assert ratios['{"p_bucket": 0}'] > 1.5


def test_snapshots_df_history_with_tags(spark, sf_dir, tmp_path):
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id")
        .limit(50)
    )
    t = LakeTable.create(spark, str(tmp_path / "sn"), src.schema, PartitionSpec())
    t.append(src, checkpoint_key="a")
    t.tag("pin-1")
    t.append(src.limit(10), checkpoint_key="b")
    rows = {r["version"]: r.asDict() for r in t.snapshots_df().collect()}
    assert rows[1]["operation"] == "create"
    assert rows[2]["checkpoint_key"] == "a" and rows[2]["tags"] == ["pin-1"]
    assert rows[3]["checkpoint_key"] == "b" and rows[3]["tags"] == []


def test_inspect_cli(spark, sf_dir, tmp_path):
    from airbyte_spark import cli
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id")
        .limit(60)
    )
    t = LakeTable.create(spark, str(tmp_path / "ins"), src.schema, PartitionSpec())
    t.append(src, checkpoint_key="a")
    t.tag("pin")
    for what, key in (("snapshots", "version"), ("partitions", "rows"), ("files", "path")):
        args = cli._parser().parse_args(
            ["inspect", "--target", t.path, "--what", what]
        )
        out = cli.run(spark, args)
        assert out["mode"] == f"inspect:{what}" and out["rows"]
        assert key in out["rows"][0]
    snaps = cli.run(
        spark, cli._parser().parse_args(["inspect", "--target", t.path])
    )["rows"]
    assert any(r["tags"] == ["pin"] for r in snaps)
