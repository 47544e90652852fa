"""Extraction/tokenization kernel tests — the byte-identity contract."""

import numpy as np
import pandas as pd

from information_retrieval_images_spark import fixtures
from information_retrieval_images_spark.textproc import (
    extract_text,
    extract_text_series,
    term_frequencies_batch,
    tokenize,
)


def test_extract_strips_script_style_comments_tags():
    html = (
        b"<html><head><title>Hi</title><style>p{x}</style>"
        b"<script>if(a<b){}</script></head>"
        b"<body><!-- c --><p>one  two\nthree</p></body></html>"
    )
    assert extract_text(html) == "Hi one two three"


def test_extract_entities_and_whitespace():
    assert extract_text(b"<p>a &amp; b &lt;c&gt; &quot;d&quot;&nbsp;e</p>") == 'a & b <c> "d" e'


def test_extract_handles_none_and_str():
    assert extract_text_series(pd.Series([None]))[0] == ""
    assert extract_text("<b>x</b>") == "x"


def test_extract_edge_battery_locked():
    """Pins the single-pass strip semantics on messy inputs (goldens: this
    IS the contract — engine and oracle share the one kernel, so changing
    outputs here means regenerating every index and expected ranking)."""
    cases = [
        (b"<p>hello &amp; goodbye</p>", "hello & goodbye"),
        (b"<script>var x = '<div>not text</div>';</script>visible", "visible"),
        (b"<style>.a{color:red}</style>text<!-- comment <b>bold</b> -->tail", "text tail"),
        (b"<SCRIPT>UPPER</SCRIPT>ok<STYLE>s</STYLE>", "ok"),
        # unclosed script block: only the opening tag strips; body is text
        (b"<script>unclosed block", "unclosed block"),
        (b"<div class='a' data-x=\"<>\">inner</div>", '">inner'),
        (b"a &lt;tag&gt; &quot;q&quot; &#39;s&#39; &apos;a&apos; &nbsp;b", "a <tag> \"q\" 's' 'a' b"),
        (b"   lots \t of \n whitespace   ", "lots of whitespace"),
        (b"<script>a<!-- </script> -->b</script>c", "-->b c"),
        (b"", ""),
        (b"plain text no tags", "plain text no tags"),
        (b"<script >spaced</script >x<script\ny>nl</script\n>", "x"),
        # single-pass entity decode: &amp;lt; must NOT double-decode
        (b"&amp;lt; &amp;amp; x&amp;nbsp;y", "&lt; &amp; x&nbsp;y"),
        (b"<p>unicode \xc3\xa9\xc3\xa0 &amp; \xe2\x82\xac10</p>", "unicode éà & €10"),
        (b"nbsp run a\xc2\xa0\xc2\xa0b", "nbsp run a b"),  # U+00A0 is \s: collapses
        # non-ASCII and malformed UTF-8, as real web corpora carry them:
        # undecodable bytes become U+FFFD (errors="replace")
        (b"<p>caf\xc3\xa9 na\xc3\xafve \xe6\xbc\xa2\xe5\xad\x97</p>", "café naïve 漢字"),
        (b"<p>bad \xff\xfe bytes</p>", "bad �� bytes"),  # one per lone byte
        (b"<p>trunc \xe6\xbc</p>", "trunc �"),  # truncated 3-byte sequence
        (b"<p>\xc3\x28</p>", "�("),  # invalid continuation byte
        (b"\xf0\x9f\x98<p>lead-trunc</p>", "� lead-trunc"),  # truncated 4-byte
        ("<p>İstanbul Iı dotted</p>".encode(), "İstanbul Iı dotted"),
        ("<p>ẞ sharp-s</p>".encode(), "ẞ sharp-s"),
        # U+2028, U+2029 and U+0085 are Python \s: each collapses to a space
        ("<p>sep\u2028line\u2029para\u0085nel</p>".encode(), "sep line para nel"),
        (b"<p>emoji \xf0\x9f\x98\x80 ok</p>", "emoji \U0001f600 ok"),
        ("<p>ZĀ́LGO á combining</p>".encode(), "ZĀ́LGO á combining"),
        (b"<script>x</script><p>\x1c\x1d\x1e\x1f seps</p>", "seps"),  # 0x1C-0x1F are \s
        # UTF-8-encoded surrogate (ED A0 80): one U+FFFD per byte
        (b"<p>mix \xed\xa0\x80 surrogate-bytes</p>", "mix ��� surrogate-bytes"),
    ]
    got = extract_text_series(pd.Series([h for h, _ in cases]))
    for (h, want), g in zip(cases, got):
        assert g == want, (h, g, want)


def test_extract_matches_fixture_ground_truth():
    pages = fixtures.make_pages_pandas(50)
    got = extract_text_series(pages["html"])
    for i in range(50):
        assert got[i] == fixtures.expected_extracted_text(i, pages["text"][i])


def test_tokenize_reference_parity():
    # reference analyzer: text.lower().split() (MAP.py:5-6)
    assert tokenize("The  Quick\tBrown\nfox") == "the quick brown fox".lower().split()
    assert tokenize("") == []


def test_term_frequencies_batch():
    out = term_frequencies_batch(
        pd.Series([7, 8], dtype="int64"),
        pd.Series(["a b a A", ""]),
    )
    assert set(out.columns) == {"term", "doc_id", "tf", "dl"}
    recs = {(r.term, r.doc_id): (r.tf, r.dl) for r in out.itertuples()}
    assert recs == {("a", 7): (3, 4), ("b", 7): (1, 4)}


def test_fixture_determinism_and_independence():
    full = fixtures.make_pages_pandas(20)
    sub = fixtures.make_pages_batch(np.array([5, 17]))
    assert sub.iloc[0]["text"] == full.iloc[5]["text"]
    assert sub.iloc[1]["url"] == full.iloc[17]["url"]
    again = fixtures.make_pages_pandas(20)
    assert (again["text"] == full["text"]).all()


def test_fixture_zipf_head_term_is_hot():
    pages = fixtures.make_pages_pandas(300)
    hits = pages["text"].str.contains("term000000").mean()
    assert hits > 0.5  # rank-1 term appears in most docs -> skew is real
