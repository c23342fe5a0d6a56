"""Manifest optimistic-concurrency: the true lost-update interleaving.

Both writers read the manifest BEFORE either writes (the dangerous schedule
the per-writer-sequential test can't produce). The loser's retry must
re-read the winner's manifest and re-apply only its own delta — rewriting
its stale snapshot would silently drop the winner's files/committed keys.
Also pins: CommitConflict on overlapping file removal (a concurrent commit
rewrote this merge's input files → metadata retry is NOT safe), and
regrouped replay after tombstone expiry must not resurrect deleted keys.
"""

from __future__ import annotations

import datetime as dt
import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from airbyte_spark.lake.format import CommitConflict, LakeTable, PartitionSpec

SCHEMA = StructType(
    [StructField("k", StringType(), False), StructField("v", LongType(), True)]
)


def _stage(t, spark, rows):
    return t._stage_write(
        spark.createDataFrame(rows, SCHEMA), stat_cols=["k"], one_file_per_partition=False
    )


def test_lost_update_interleaving(spark, tmp_path, monkeypatch):
    """writer1 and writer2 both read version v; writer2 publishes v+1 while
    writer1 is mid-commit; writer1's retry must preserve writer2's files
    AND committed key (red on the old stale-rewrite retry path)."""
    t1 = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, PartitionSpec())
    t2 = LakeTable(spark, str(tmp_path / "t"))
    e1 = _stage(t1, spark, [("a", 1)])
    e2 = _stage(t2, spark, [("b", 2)])

    orig = LakeTable._write_manifest
    state = {"injected": False}

    def racy(self, manifest):
        # first publish attempt of writer1: writer2 sneaks in a full
        # read-modify-write cycle first → writer1's target version is taken
        if not state["injected"]:
            state["injected"] = True
            t2.commit(e2, operation="append", checkpoint_key="w2")
        return orig(self, manifest)

    monkeypatch.setattr(LakeTable, "_write_manifest", racy)
    t1.commit(e1, operation="append", checkpoint_key="w1")
    monkeypatch.setattr(LakeTable, "_write_manifest", orig)

    m = t1.manifest()
    paths = {f["path"] for f in m["files"]}
    assert {e.path for e in e1} <= paths, "loser's own files missing"
    assert {e.path for e in e2} <= paths, "winner's files dropped (lost update)"
    assert {"w1", "w2"} <= set(m["committed"]), "winner's committed key dropped"
    assert m["version"] == 3  # create=1, w2=2, w1 retried onto 3


def test_conflicting_file_removal_raises(spark, tmp_path):
    """Two commits that both remove (rewrite) the same data file: the loser
    merged against a snapshot that no longer exists — it must fail loudly
    (≡ Iceberg validation on concurrently-deleted data files), not retry."""
    t1 = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, PartitionSpec())
    t1.commit(_stage(t1, spark, [("a", 1)]), operation="append")
    victim = {f.path for f in t1.files()}
    t2 = LakeTable(spark, str(tmp_path / "t"))

    r1 = _stage(t1, spark, [("a", 2)])
    r2 = _stage(t2, spark, [("a", 3)])
    t1.commit(r1, removed_paths=victim, operation="merge")
    with pytest.raises(CommitConflict):
        t2.commit(r2, removed_paths=victim, operation="merge")


def test_regrouped_replay_cannot_resurrect_expired_tombstone(spark, sf_dir, tmp_path):
    """Per-segment committed keys: after expire_tombstones, a re-run with a
    different group size must skip the already-applied segments instead of
    re-applying them under a new group label (which would re-insert keys
    whose tombstones were just GC'd)."""
    from airbyte_spark.sources.changelog import read_changelog
    from airbyte_spark.streaming.pipeline import CdcPipeline

    ch = read_changelog(spark, sf_dir, batch_span=200)
    pipe = CdcPipeline.create_target(spark, str(tmp_path / "t"), n_buckets=4)
    pipe.replay(ch, group_size=1)
    deleted_urls = {
        r["url"]
        for r in pipe.raw_state().filter(F.col("_ab_cdc_deleted_at").isNotNull()).collect()
    }
    assert deleted_urls, "fixture must contain tombstoned keys"
    before = sorted(r["url"] for r in pipe.final_state().select("url").collect())

    pipe.expire_tombstones(dt.datetime(2100, 1, 1))  # GC every tombstone
    # catch-up re-run with a different grouping: everything already committed
    results = pipe.replay(ch, group_size=4)
    assert all(r.skipped for r in results)
    after = sorted(r["url"] for r in pipe.final_state().select("url").collect())
    assert after == before
    assert not deleted_urls & set(after)


def test_concurrent_reader_never_sees_a_partial_head(spark, tmp_path):
    """Readers racing a writer always parse a complete manifest head: the
    head is written whole under a temp name and published by a no-clobber
    link (red on a create-then-write publish, which exposes an empty or
    half-written head: JSONDecodeError)."""
    import sys
    import threading

    path = str(tmp_path / "t")
    t = LakeTable.create(spark, path, SCHEMA, PartitionSpec())
    # a large head makes a partial write wide enough to be seen
    t._update_properties({"pad": "x" * 400_000}, set(), "set-properties")
    done = threading.Event()
    errors: list[BaseException] = []
    reads = [0]

    def read_loop():
        reader = LakeTable(spark, path)
        while not done.is_set():
            try:
                assert reader.manifest()["properties"]["pad"]
                reads[0] += 1
            except Exception as exc:  # noqa: BLE001 — any failure counts
                errors.append(exc)
                return

    readers = [threading.Thread(target=read_loop) for _ in range(6)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for r in readers:
            r.start()
        for i in range(60):
            t.commit([], operation="append", checkpoint_key=f"k{i}")
    finally:
        done.set()
        sys.setswitchinterval(switch)
        for r in readers:
            r.join(timeout=60)
    assert not any(r.is_alive() for r in readers)
    assert not errors, errors[:3]
    assert reads[0] > 0
    assert t.current_version() == 62 and len(t.committed()) == 60
    assert not [n for n in os.listdir(os.path.join(path, "_lake")) if n.startswith(".")]


def test_stale_head_temp_is_ignored_then_reaped(spark, tmp_path):
    """A writer killed between writing its temp head and linking it leaves
    a dot-prefixed temp file: it is no version, fsck ignores it, and
    vacuum reaps it once it is older than the grace period."""
    path = str(tmp_path / "t")
    t = LakeTable.create(spark, path, SCHEMA, PartitionSpec())
    t.commit(_stage(t, spark, [("a", 1)]), operation="append")
    stale = os.path.join(path, "_lake", ".v000000003.0123abcd.tmp")
    with open(stale, "w") as fh:
        fh.write('{"version": 3, "fil')  # torn
    assert t.current_version() == 2 and t.manifest()["version"] == 2
    assert t.fsck() == []
    assert t.vacuum(grace_s=3600) == 0 and os.path.exists(stale)
    assert t.vacuum() == 1 and not os.path.exists(stale)
    assert t.fsck() == [] and t.current_version() == 2
