"""Window-ranked micro-batch dedup — the heart of append_dedup semantics.

Re-expresses the reference's SCD active-row / dedup windows
(base-normalization stream_processor.py:695-747):

  row_number() OVER (PARTITION BY pk
                     ORDER BY cursor DESC NULLS LAST, emitted DESC, lsn DESC) = 1

keeps exactly the latest version of each key inside a batch — including a
tombstone if the delete is the latest event (delete-then-reinsert within
one batch resolves correctly because ordering is total via the LSN).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from airbyte_spark.protocol import StreamConfig


def dedup_window(key_cols: list[str], order_cols: list[str]):
    """Window ordering latest-first with the reference's NULL handling
    (cursor IS NULL ASC ≡ desc_nulls_last, stream_processor.py:695-702)."""
    return Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc_nulls_last() for c in order_cols]
    )


def dedup_batch(df: DataFrame, cfg: StreamConfig) -> DataFrame:
    """Keep the single latest event per primary key within a batch.

    One shuffle on the PK — the same shuffle the subsequent MERGE join needs,
    so at scale the exchange is reused (both hash-partition on url).
    """
    w = dedup_window(cfg.primary_key, cfg.order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def presalted_dedup(df: DataFrame, cfg: StreamConfig, salt_buckets: int = 16) -> DataFrame:
    """Skew-proof micro-batch dedup for hot keys (north-star's url-hash
    salting): phase 1 groups by (key, salt) with a max_by aggregate —
    partial aggregation collapses a hot url's events map-side, and the
    salt spreads its residual rows over `salt_buckets` reducers; phase 2
    reduces the ≤salt_buckets survivors per key. No single reducer ever
    sees more than ~|events|/salt_buckets of a hot key.

    Equivalent to dedup_batch for any input (tested); use when a stream
    has pathological per-key event counts. The cursor is coalesced to the
    epoch floor so NULL cursors lose to everything (desc_nulls_last).
    """
    key = cfg.primary_key
    floor_ts = F.lit("0001-01-01 00:00:00").cast("timestamp_ntz")
    ord_expr = F.struct(
        F.coalesce(F.col(cfg.cursor_field), floor_ts).alias("c"),
        *[F.col(c).alias(f"t{i}") for i, c in enumerate(cfg.order_tiebreakers)],
    )
    payload = F.struct(*[F.col(c) for c in df.columns])
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in cfg.order_tiebreakers]), F.lit(salt_buckets))
    phase1 = (
        df.groupBy(*key, salt.alias("_salt"))
        .agg(F.max_by(payload, ord_expr).alias("_row"))
        .select("_row.*")
    )
    phase2 = (
        phase1.groupBy(*key)
        .agg(F.max_by(F.struct(*[F.col(c) for c in df.columns]), ord_expr).alias("_row"))
        .select("_row.*")
    )
    return phase2


def valid_records(df: DataFrame, cfg: StreamConfig):
    """Split a change batch into (valid, observation) — the reference drops
    records failing isValidData and counts them per stream
    (BufferedStreamConsumer.java:141-144,195-196). Valid here: non-null
    primary key and a usable order key (cursor or tiebreaker present).
    The invalid count rides the batch's first action as an Observation
    (no extra pass)."""
    from pyspark.sql import Observation

    key_ok = F.lit(True)
    for k in cfg.primary_key:
        key_ok = key_ok & F.col(k).isNotNull()
    order_ok = F.lit(False)
    for c in cfg.order_cols:
        order_ok = order_ok | F.col(c).isNotNull()
    ok = key_ok & order_ok
    obs = Observation()
    observed = df.observe(
        obs,
        F.sum((~ok).cast("long")).alias("n_invalid"),
        F.count(F.lit(1)).alias("n_total"),
    )
    return observed.filter(ok), obs
