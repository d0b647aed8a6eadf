"""Golden byte-identity tests for the clean_html extraction chain —
the north-rule invariant (BASELINE.json: "text extraction byte-identity
pass rate"). See SURVEY.md §5.2-1 and FIXTURES.md §5.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from news_crawler_slm_spark.functions.html_clean import TAGS_TO_REMOVE, clean_html
from news_crawler_slm_spark.functions.udfs import clean_html_udf


def _load_fixture_pairs(fixtures_dir: str) -> list[tuple[str, str, str]]:
    pairs = []
    for html_path in sorted(glob.glob(os.path.join(fixtures_dir, "html", "*.html"))):
        name = os.path.splitext(os.path.basename(html_path))[0]
        gold_path = os.path.join(fixtures_dir, "golden", f"{name}.txt")
        with open(html_path, encoding="utf-8") as f:
            html = f.read()
        with open(gold_path, encoding="utf-8") as f:
            gold = f.read()
        pairs.append((name, html, gold))
    return pairs


def test_fixture_corpus_exists(fixtures_dir):
    pairs = _load_fixture_pairs(fixtures_dir)
    assert len(pairs) >= 50  # every semantic branch covered


def test_sequential_matches_golden(fixtures_dir):
    """The sequential implementation reproduces the committed goldens
    byte-for-byte (regression pin)."""
    for name, html, gold in _load_fixture_pairs(fixtures_dir):
        assert clean_html(html) == gold, f"byte mismatch for fixture {name}"


@pytest.mark.parametrize("partitions", [1, 7])
def test_distributed_matches_golden(spark, fixtures_dir, partitions):
    """The Arrow-UDF path produces byte-identical text per url at any
    partitioning — the invariant the whole crawl rides on."""
    pairs = _load_fixture_pairs(fixtures_dir)
    df = spark.createDataFrame(
        [(name, html.encode("utf-8")) for name, html, _ in pairs],
        "url string, html binary",
    ).repartition(partitions)
    got = {
        r["url"]: r["text"]
        for r in df.select("url", clean_html_udf(F.col("html")).alias("text")).collect()
    }
    for name, _, gold in pairs:
        assert got[name] == gold, f"distributed byte mismatch for fixture {name}"


def test_specific_semantics():
    # ld+json survives, plain script does not (step_03:34-37)
    out = clean_html('<body><script type="application/ld+json">{"a":1}</script><script>x()</script></body>')
    assert '{"a":1}' in out and "x()" not in out

    # substring ad-class match: class="radar" is removed (step_03:41 "ad" in "radar")
    out = clean_html('<body><div class="radar">Z</div><p>k</p></body>')
    assert "Z" not in out and "k" in out

    # span with ad class is NOT removed (only div/section)
    out = clean_html('<body><span class="ad">S</span></body>')
    assert "S" in out

    # id containing 'ad' as substring removes (e.g. id="loaded")
    out = clean_html('<body><div id="loaded">L</div></body>')
    assert "L" not in out

    # style attr dropped, other attrs kept
    out = clean_html('<body><p style="c" class="x">t</p></body>')
    assert 'style' not in out and 'class="x"' in out

    # comment with only removable tags disappears entirely
    out = clean_html("<body><!-- <img src='x'> --></body>")
    assert "<!--" not in out and "img" not in out

    # comment with residual text becomes PLAIN TEXT (bs4 replace_with(str))
    out = clean_html("<body><!-- tail <img src='x'> text --></body>")
    assert "<!--" not in out and "tail" in out and "text" in out

    # every non-void removable tag nukes its content; void tags (link, img)
    # cannot nest content — html.parser (like bs4's treebuilder) parses
    # `<link>GONE</link>` with GONE as a *sibling* text node, which survives.
    for tag in TAGS_TO_REMOVE:
        out = clean_html(f"<body><{tag} data-m='1'>GONE</{tag}><p>stay</p></body>")
        if tag not in ("link", "img"):
            assert "GONE" not in out, tag
        assert "data-m" not in out, tag
        assert "stay" in out, tag


def test_idempotence_and_determinism():
    html = '<body><div class="x"><p style="s">a &amp; b</p><!-- c <a>d</a> --></div></body>'
    once = clean_html(html)
    assert clean_html(html) == once  # deterministic
    # cleaning already-clean html is stable after one extra pass
    assert clean_html(clean_html(once)) == clean_html(once)


# Marked sections _markupbase rejects; the HTML5 tokenizer reads each as a
# bogus comment up to the next '>' or the end of input.
BAD_MARKED_SECTIONS = {
    "<![a<": "[a&lt;",
    "<![<": "[&lt;",
    "<p>x<![<b>y</b></p>": "<p>\n x\n [&lt;b\n y\n</p>",
}


def test_clean_html_is_total():
    for html, want in BAD_MARKED_SECTIONS.items():
        assert clean_html(html) == want, repr(html)


def test_udf_survives_bad_marked_section(spark):
    """One unparseable page must not fail the batch (and with it the crawl
    round's pages write)."""
    rows = [("good1", "<p>one</p>")]
    rows += [(f"bad{i}", html) for i, html in enumerate(BAD_MARKED_SECTIONS)]
    rows += [("good2", "<div class='ad'>x</div><p>two</p>")]
    df = spark.createDataFrame(
        [(u, h.encode("utf-8")) for u, h in rows], "url string, html binary"
    ).coalesce(1)
    got = {
        r["url"]: r["text"]
        for r in df.select("url", clean_html_udf(F.col("html")).alias("text")).collect()
    }
    assert got == {u: clean_html(h) for u, h in rows}
    assert got["good2"] == "<p>\n two\n</p>"


# ---------------------------------------------------------------- fast path

def _feeds_agree(html):
    """The strict fast scanner and the stdlib tokenizer, each driving a fresh
    emitter, must write identical output.

    The emitter's output is the observable surface (text chunk boundaries,
    attrs, comments, decls all serialize); a fast-path refusal means
    clean_html reruns the stdlib feed, so equality holds by construction."""
    from news_crawler_slm_spark.functions.html_clean import (
        _Emitter,
        _FastPathUnsupported,
        _fast_feed,
        _StdlibFeed,
    )

    fast = _Emitter()
    try:
        _fast_feed(html, fast)
    except _FastPathUnsupported:
        return True
    slow = _Emitter()
    feed = _StdlibFeed(slow)
    feed.feed(html)
    feed.close()
    return fast.finish() == slow.finish()


def test_fast_scanner_equivalence_fixtures(fixtures_dir):
    for name, html, _gold in _load_fixture_pairs(fixtures_dir):
        assert _feeds_agree(html), name


ADVERSARIAL = [
    "<a href=x/>",                       # unquoted value eats the slash
    '<a href="x"/>',                     # quoted value, real self-close
    "<a foo>",                           # boolean attr (None, not '')
    '<a foo="">bar</a>',                 # empty-string attr
    "<A HREF='X&amp;Y'>t</A>",           # case + entity in attr
    "plain &amp; text &#65; &unknown; &amp",  # entities in data, no-semi
    "<p>a<3 b</p>",                      # bare '<' becomes its own chunk
    "<",                                 # lone '<' at EOF
    "x<",                                # trailing '<'
    "<script>var a = '<div>' && 1;</script>after",  # cdata raw content
    "<script type='application/ld+json'>{\"a\":1}</script>",
    "<SCRIPT>x</SCRIPT>",                # case-insensitive cdata close
    "<script>x</script >t",              # spaced closer
    "<style>a > b { }</style>",          # '>' inside style cdata
    "<script>unterminated",              # → fallback
    "<script>x</scriptx>y</script>",     # almost-closer → fallback
    "<!doctype HTML>x",
    "<!DOCTYPE html PUBLIC 'x'><p>y</p>",
    "<!bogus comment>x",
    "<![CDATA[raw]]>x",                  # marked section → fallback
    "<?xml version='1.0'?><p>x</p>",     # processing instruction
    "<?php echo; ?>",
    "<div foo / bar>x</div>",            # stray slash → fallback
    "<div foo=>x</div>",                 # empty unquoted value ('foo','')
    "<a href==>",                        # '=+' separator, empty value
    "<div foo='a' foo='b'>dup</div>",    # duplicate attrs keep order
    "</>",                               # empty end tag → fallback
    "</ div>x",                          # spaced end tag
    "<div><p>unclosed",                  # EOF with open elements
    "<p>a</p></p>b",                     # stray closer
    "<br/><br><img src=x>",              # void elements all forms
    "<!-- c --><!--no space--><p>t</p>",
    "<!-- a -- > b -->",                 # stdlib closes at '-- >', not '-->'
    "<p><!-- a -- > b --></p>",
    "<!--x--\n>y",                       # newline inside the spaced closer
    "<!-- unterminated",                 # → fallback
    "<e-x data-a.b:c='1'>t</e-x>",       # exotic-but-legal names
    "<div\nclass='a'\n>t</div>",         # newlines inside tag
    "a\n\n  b <b>c</b> d &gt; e",
]


def test_fast_scanner_equivalence_adversarial():
    for html in ADVERSARIAL:
        assert _feeds_agree(html), repr(html)


def test_fast_scanner_fuzz_equivalence():
    from hypothesis import given, settings, strategies as st

    tokens = st.sampled_from(
        ["<", ">", "/", "=", '"', "'", "&", ";", "!", "-", "?", " ", "\n",
         "a", "b", "p", "x", "div", "<div>", "</div>", "<br/>", "<script>",
         "</script>", "<!--", "-->", "&amp;", "&#65;", "class", "style",
         "<a href=", "<!doctype html>", "]]>", "<![",
         # removal-relevant tokens: removed subtrees, raw-text parents,
         # style stripping, comment rewriting
         "<div class='ad'>", "<section id=sponsored>", "<nav>", "<pre>",
         "<textarea>", "<script type='application/ld+json'>", "<p style='c'>",
         "<!-- <img src=x> t -->"]
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(tokens, max_size=30).map("".join))
    def check(html):
        assert _feeds_agree(html), repr(html)

    check()
