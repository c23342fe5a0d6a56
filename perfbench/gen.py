"""Seeded input generator: Spark column math over `spark.range`, nothing read.

Every event is a pure function of (seed, lsn), so the same seed gives the
same inputs and the expected extracted text of any event can be recomputed
from its lsn alone. The html is built from visible words wrapped in markup
the engine's extraction rule removes (a <style> and a <script> element,
tags, the five entities), so the expected text is known by construction:
the words joined by single spaces. The vocabulary holds no character that
Python's `str` `\\s` treats as whitespace.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

# Base of the event clock: 2024-01-01T00:00:00Z in microseconds. Event time
# advances 1 ms per lsn; a late event is stamped up to `late_ms` earlier.
TS0_US = 1_704_067_200_000_000

ASCII_WORDS = [
    "ledger", "replica", "snapshot", "cursor", "binlog", "segment", "merge",
    "bucket", "bloom", "footer", "manifest", "vacuum", "commit", "offset",
    "stream", "tombstone", "lateness", "window", "shuffle", "parquet",
    "schema", "column", "query", "driver", "worker", "arrow", "catalog",
    "delta", "lake", "index", "topic", "event",
]
# Non-ASCII but never whitespace (no U+00A0, U+0085, U+1C-1F, U+2000 block).
UNICODE_WORDS = [
    "café", "naïve", "Zürich", "façade", "smørrebrød", "déjà", "Ελλάδα",
    "данные", "журнал", "東京", "データ", "日本語", "서울", "数据", "مرحبا",
    "שלום", "çalışma", "Łódź", "ñandú", "übermäßig", "crème", "año",
    "São", "kraków", "fjörður", "Ærø", "Øresund", "île", "résumé",
    "Straße", "mañana", "piñata",
]
LANGS = ["en", "de", "fr", "ja", "ru", "es", "pt", "ko"]


def _unit(seed: int, col: Column, salt: int) -> Column:
    """Uniform double in [0, 1) from a seeded hash of `col`."""
    h = F.xxhash64(F.lit(seed), F.lit(salt), col)
    return F.pmod(h, F.lit(1 << 40)).cast("double") / float(1 << 40)


def _words(seed: int, lsn: Column, nonascii: Column, n: int, salt: int) -> Column:
    """`n` words joined by single spaces, drawn from one vocabulary per
    event: word i is picked by bits 5i..5i+4 of one seeded hash."""
    vocab = F.when(nonascii, F.array(*map(F.lit, UNICODE_WORDS))).otherwise(
        F.array(*map(F.lit, ASCII_WORDS))
    )
    h = F.xxhash64(F.lit(seed), F.lit(salt), lsn)
    return F.concat_ws(
        " ",
        *[
            F.element_at(vocab, (F.shiftright(h, 5 * i).bitwiseAND(31) + 1).cast("int"))
            for i in range(n)
        ],
    )


def page_parts(seed: int, lsn: Column, cfg: dict) -> dict[str, Column]:
    """Columns that define one event's page: title, paragraph, repeat count,
    non-ASCII flag. Shared by the html and the expected-text builders."""
    nonascii = _unit(seed, lsn, 11) < cfg["nonascii_share"]
    # page size varies 0.5x..1.5x around page_bytes: ~80 B per paragraph
    reps = (
        F.floor(_unit(seed, lsn, 12) * cfg["page_bytes"] / 80) + cfg["page_bytes"] // 160
    ).cast("int") + 1
    return {
        "nonascii": nonascii,
        "title": _words(seed, lsn, nonascii, 3, 20),
        "para": _words(seed, lsn, nonascii, 8, 40),
        "reps": reps,
    }


def html_of(p: dict[str, Column], lsn: Column) -> Column:
    """Markup around the visible words. The rule's stages all fire: the
    <style>/<script> bodies hold words that must vanish, tags become
    spaces, `&amp;` decodes to `&`, and runs of whitespace collapse."""
    rev = lsn.cast("string")
    return F.concat(
        F.lit("<!doctype html><html><head><title>"), p["title"],
        F.lit("</title><style>p { color: red } .hidden { x: 1 }</style>"),
        F.lit("<script type=\"text/javascript\">var skipped = 'ledger';</script>"),
        F.lit("</head>\n<body>\n  <h1>rev "), rev, F.lit(" &amp; notes</h1>\n"),
        F.repeat(F.concat(F.lit("<p>"), p["para"], F.lit("</p>\n  ")), p["reps"]),
        F.lit("<SCRIPT>if (a < b) { ignored(); }</SCRIPT></body></html>"),
    )


def text_of(p: dict[str, Column], lsn: Column) -> Column:
    """The extraction rule's expected output for html_of, built directly."""
    rev = lsn.cast("string")
    body = F.rtrim(F.repeat(F.concat(p["para"], F.lit(" ")), p["reps"]))
    return F.concat(p["title"], F.lit(" rev "), rev, F.lit(" & notes "), body)


def expected_text_md5(seed: int, lsn: Column, cfg: dict) -> Column:
    return F.md5(F.encode(text_of(page_parts(seed, lsn, cfg), lsn), "UTF-8"))


def _frame(spark, seed, cfg, lsn0, n, k, ts, is_del, late, seg) -> DataFrame:
    lsn = F.col("id")
    p = page_parts(seed, lsn, cfg)
    html = html_of(p, lsn)
    return spark.range(lsn0, lsn0 + n, 1, cfg["partitions"]).select(
        key_url(seed, k).alias("url"),
        k.alias("key"),
        ts.alias("warc_ts_us"),
        is_del.alias("is_del"),
        late.alias("late"),
        lsn.alias("lsn"),
        seg.cast("long").alias("seg"),
        F.element_at(
            F.array(*[F.lit(x) for x in LANGS]),
            (F.pmod(F.xxhash64(F.lit(seed), k), F.lit(len(LANGS))) + 1).cast("int"),
        ).alias("lang"),
        p["nonascii"].alias("nonascii"),
        html.alias("html"),
        F.octet_length(html).alias("html_bytes"),
    )


def events(spark: SparkSession, seed: int, cfg: dict, lsn0: int, n: int) -> DataFrame:
    """`n` change events with lsn in [lsn0, lsn0 + n).

    cfg keys: keys (key space), skew (key draw exponent: 1 = uniform, >1
    favours low key ids), delete_share, late_share, late_ms, span (events
    per segment), nonascii_share, page_bytes, partitions.
    Columns: url, key, warc_ts_us, is_del, late, lsn, seg, lang, nonascii,
    html, html_bytes (page columns are lazy: computed only when read).
    """
    lsn = F.col("id")
    k = F.floor(F.pow(_unit(seed, lsn, 1), F.lit(float(cfg["skew"]))) * cfg["keys"]).cast("long")
    late = _unit(seed, lsn, 3) < cfg["late_share"]
    lateness_us = (F.floor(_unit(seed, lsn, 4) * cfg["late_ms"]) + 1).cast("long") * 1000
    ts = F.lit(TS0_US) + lsn * 1000 - F.when(late, lateness_us).otherwise(F.lit(0))
    is_del = _unit(seed, lsn, 2) < cfg["delete_share"]
    seg = F.floor(lsn / cfg["span"])
    return _frame(spark, seed, cfg, lsn0, n, k, ts, is_del, late, seg)


def snapshot(spark: SparkSession, seed: int, cfg: dict, n_keys: int) -> DataFrame:
    """One insert per key 0..n_keys-1 at lsn = key (the preload), all in
    segment 0: the preload is one checkpoint."""
    lsn = F.col("id")
    ts = F.lit(TS0_US) + lsn * 1000
    return _frame(spark, seed, cfg, 0, n_keys, lsn, ts, F.lit(False), F.lit(False), F.lit(0))


def key_url(seed: int, k: Column) -> Column:
    host = F.pmod(F.xxhash64(F.lit(seed), F.lit(7), k), F.lit(211))
    return F.concat(
        F.lit("https://h"), host.cast("string"), F.lit(".example.org/p/"), k.cast("string")
    )


def to_changelog(ev: DataFrame) -> DataFrame:
    """Generated events in the engine's CHANGE_SCHEMA shape (replay input).
    A tombstone carries the key image only, as a Debezium delete does."""
    ts = F.timestamp_micros(F.col("warc_ts_us")).cast("timestamp_ntz")
    src_ts = F.timestamp_millis(F.floor(F.col("warc_ts_us") / 1000).cast("long")).cast(
        "timestamp_ntz"
    )
    return ev.select(
        F.col("url"),
        ts.alias("warc_ts"),
        F.when(~F.col("is_del"), F.encode(F.col("html"), "UTF-8")).alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
        src_ts.alias("_ab_cdc_updated_at"),
        F.when(F.col("is_del"), src_ts).alias("_ab_cdc_deleted_at"),
        F.col("lsn").alias("_ab_cdc_lsn"),
        src_ts.alias("_emitted_at"),
        F.col("seg").alias("checkpoint_id"),
    )


def to_debezium_json(ev: DataFrame) -> DataFrame:
    """Generated events as Debezium envelopes (one JSON string per row):
    deletes carry the before-image, inserts/updates the after-image, the
    cursor travels in microseconds and `source.lsn` is the log position."""
    payload = F.struct(
        F.col("url"),
        F.col("warc_ts_us"),
        F.when(~F.col("is_del"), F.col("html")).alias("html"),
        F.col("lang"),
    )
    ts_ms = F.floor(F.col("warc_ts_us") / 1000).cast("long")
    env = F.struct(
        F.when(F.col("is_del"), payload).alias("before"),
        F.when(~F.col("is_del"), payload).alias("after"),
        F.when(F.col("is_del"), F.lit("d")).otherwise(F.lit("u")).alias("op"),
        ts_ms.alias("ts_ms"),
        F.struct(ts_ms.alias("ts_ms"), F.col("lsn").alias("lsn")).alias("source"),
    )
    return ev.select(F.to_json(env).alias("value"), F.col("seg"))
