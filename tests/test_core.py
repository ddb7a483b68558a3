"""Pure-Python core semantics: quality gate, features, layout codec, HTML
extractor.

No Spark needed here — these pin the oracle itself (SURVEY.md §5: the serial
extractor is the analog of the reference's vanilla benchmark scripts).
"""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from paraocr_spark import PAGE_BREAK
from paraocr_spark.core import features, htmlx, layout, quality
from paraocr_spark.core.reference import extract_document


# ---------------------------------------------------------------- quality
def test_gate_thresholds():
    # 100-char rule (config.py:56 analog)
    good = ("the and of to in on with from " * 8).strip()
    assert quality.fastpath_ok(good)
    assert not quality.fastpath_ok(good[:80])
    # dictionary ratio rule (config.py:57 analog)
    assert not quality.quality_ok("zzz qqq xxx yyy www vvv uuu ttt sss rrr")
    # char-validity rule (utils.py:125 analog)
    assert not quality.quality_ok(chr(0) * 50 + " the and of to in")


# ---------------------------------------------------------------- features
# marker words of every language (ties between languages included),
# Unicode whose lower() is ASCII ("İ" -> "i̇", Kelvin sign -> "k") and
# separators; joined lists of these repeat tokens heavily
FEATURE_WORDS = st.sampled_from(
    ["the", "and", "und", "der", "el", "le", "que", "les", "is", "not",
     "x1", "Zz9", "İ", "K", "Ünï", ".", "", " ", "\n"]
)
# a doc past FEATURE_CAP whose last token straddles the cap
LONG_TEXT = ("alpha the beta und " * 3000)[: features.FEATURE_CAP - 3] + "straddle tail"
FEATURE_TEXT = st.one_of(
    st.none(),
    st.sampled_from(["", "   ", "!!! ... ???", "İ", "K", LONG_TEXT]),
    st.text(max_size=200),
    st.lists(FEATURE_WORDS, max_size=300).map(" ".join),
)


@given(st.lists(st.lists(FEATURE_TEXT, max_size=12), min_size=1, max_size=4))
@settings(max_examples=150, deadline=None)
def test_features_batch_matches_oracle(batches):
    # consecutive batches share the kernel's token vocabulary
    for texts in batches:
        assert features.compute_features_batch(texts) == [
            features.compute_features(t) for t in texts
        ]


def test_features_batch_vocab_reset_keeps_results(monkeypatch):
    monkeypatch.setattr(features, "_VOCAB", features._TokenVocab())
    monkeypatch.setattr(features, "_VOCAB_CAP", 3)
    batches = [["the cat sat on the mat", None, "der hund und die katze"],
               ["", "mat cat hund the", LONG_TEXT],
               ["el gato y los perros"]]
    for texts in batches:
        before = features._VOCAB
        assert features.compute_features_batch(texts) == [
            features.compute_features(t) for t in texts
        ]
        # every batch after the first starts over: the last one left > 3 ids
        assert (features._VOCAB is before) == (texts is batches[0])


def _synthetic_feature_batch(n_docs: int = 1024, seed: int = 7) -> list:
    """Zipf-distributed words over an 8k vocabulary, 100-700 tokens a doc."""
    import random

    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = sorted(features._STOPWORDS) + [
        "".join(rng.choices(letters, k=rng.randint(2, 9))) for _ in range(8000)
    ]
    weights = [1.0 / (r + 1) for r in range(len(words))]
    return [" ".join(rng.choices(words, weights=weights, k=rng.randint(100, 700)))
            for _ in range(n_docs)]


def test_features_batch_peak_memory_per_token_occurrence():
    """Per-batch temporaries are what 8+ concurrent Python workers per host
    pay in munmap/TLB shootdowns, so the kernel's traced peak is gated per
    token occurrence. Measured on this batch (407k occurrences, warm
    vocabulary): 56 B/occurrence; the (distinct tokens x 64) bit-matrix
    simhash it replaced peaked at 509 B/occurrence. Budget: 2x measured."""
    import gc
    import tracemalloc

    texts = _synthetic_feature_batch()
    n_occ = sum(len(features._TOKEN_RE.findall(t.lower())) for t in texts)
    features.compute_features_batch(texts)  # first-seen tokens: warm-up
    gc.collect()
    tracemalloc.start()
    try:
        features.compute_features_batch(texts)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak <= 112 * n_occ, (peak, n_occ, peak / n_occ)


# ---------------------------------------------------------------- layout
def test_layout_roundtrip_and_reading_order():
    pages = [
        [(10.0, 24.0, "second line"), (5.0, 12.0, "first line")],
        [(0.0, 0.0, "page two")],
    ]
    payload = layout.encode_layout(pages)
    text, spans = layout.extract_layout(payload)
    assert text == "first line\nsecond line" + PAGE_BREAK + "page two"
    for (s, e), expected in zip(spans, ["first line\nsecond line", "page two"]):
        assert text[s:e] == expected


def test_layout_truncation_raises():
    payload = layout.encode_layout([[(0.0, 0.0, "hello world")]])
    with pytest.raises(ValueError):
        layout.decode_layout(payload[:-4])


def test_layout_shard_split_merges_identically():
    pages = [[(0.0, float(j), f"p{i}l{j}") for j in range(3)] for i in range(10)]
    payload = layout.encode_layout(pages)
    whole, _ = layout.extract_layout(payload)
    shards = layout.split_layout_pages(payload, 3)
    assert len(shards) == 4
    merged = PAGE_BREAK.join(layout.extract_layout(s)[0] for s in shards)
    assert merged == whole


# ---------------------------------------------------------------- html
def test_html_drops_chrome_and_link_blocks():
    markup = (
        "<html><head><title>ignored</title></head><body>"
        "<nav><a href='/'>home</a> <a href='/b'>blog</a></nav>"
        "<article><p>real content paragraph survives here</p></article>"
        "<div><a href='x'>all anchor text block dropped</a> y</div>"
        "<footer>copyright note</footer></body></html>"
    )
    text, spans = htmlx.extract_html(markup)
    assert text == "real content paragraph survives here"
    assert spans == [(0, len(text))]


def test_html_span_invariant():
    markup = "<body><p>alpha beta</p><p>gamma delta epsilon</p></body>"
    text, spans = htmlx.extract_html(markup)
    assert text == "alpha beta\n\ngamma delta epsilon"
    for s, e in spans:
        assert text[s:e] in ("alpha beta", "gamma delta epsilon")


def test_html_entities_and_whitespace_normalization():
    markup = "<p>a&amp;b   c\n\t d</p>"
    text, _ = htmlx.extract_html(markup)
    assert text == "a&b c d"


# ---------------------------------------------------------------- routing
def test_extract_document_routing_and_errors():
    assert extract_document(None, None).error == "no_content"
    assert extract_document(b"\xff\xfeZZ", None).error == "invalid_utf8"
    assert extract_document(layout.MAGIC + b"\x00", None).error.startswith("layout_error")
    fast = ("the and of to in on with from " * 8).strip()
    r = extract_document(b"<p>html ignored on fast path</p>", fast)
    assert r.method == "native_text" and r.extracted_text == fast
    assert r.spans == [(0, len(fast))]


# --------------------------------------------- fused fast path equivalence
_HTML_ALPHABET = "<>/ab p&;'\"= \n"


@given(st.text(alphabet=_HTML_ALPHABET, max_size=200))
@settings(max_examples=300, deadline=None)
def test_fused_extract_equals_segment_keep_composition(markup):
    """extract_html's fused scanner must equal the segment_blocks +
    keep_block reference composition on ARBITRARY input (the scanner skips
    Block objects and inlines the flush; this pins the refactor)."""
    kept = [b.text for b in htmlx.segment_blocks(markup) if htmlx.keep_block(b)]
    assert htmlx._kept_texts(markup) == kept


def test_fused_extract_edge_cases():
    cases = [
        "", "plain text no tags at all",
        "<div title='attr with > inside'>quoted gt content here</div>",
        "<div a<b>weird attr lt content here</div>",
        "5 < 6 loose angle words here",
        "trailing lt <",
        "<<p>double open words here</p>",
        "</>empty close words here",
        "<A HREF='x'>UPPER anchor</A><P>UPPER BLOCK words</P>",
        "<p>text<nav>dropme dropme</nav>after words</p>",
        "<div class='unclosed>no close quote words</div>",
    ]
    for m in cases:
        kept = [b.text for b in htmlx.segment_blocks(m) if htmlx.keep_block(b)]
        assert htmlx._kept_texts(m) == kept, repr(m)


# ------------------------------------------------- lxml optional fast path
def _lxml_present() -> bool:
    try:
        import lxml  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _lxml_present(), reason="lxml not installed")
def test_lxml_backend_identity_on_wellformed():
    """When lxml exists, the C path must equal the regex oracle on
    well-formed markup (malformed markup is disclosed as parser-dependent)."""
    from paraocr_spark.core.htmlx_lxml import extract_html_lxml
    from paraocr_spark.sources.pages import gen_page

    for i in range(400):
        p = gen_page(i)
        h = p.get("html")
        if not isinstance(h, (bytes, bytearray)) or h[:4] == b"%LAY":
            continue
        markup = h.decode("utf-8")
        assert extract_html_lxml(markup) == htmlx.extract_html(markup)


@pytest.mark.skipif(_lxml_present(), reason="lxml installed: import succeeds")
def test_lxml_backend_fails_preflight_with_clear_message():
    """Without lxml the registry entry must fail at DRIVER preflight with an
    actionable ImportError, never inside executor tasks."""
    from paraocr_spark.backends import preflight_backend

    with pytest.raises(ImportError, match="lxml"):
        preflight_backend("lxml")
