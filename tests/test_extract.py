"""Frozen extractor unit tests (SURVEY.md §5.2.1; BASELINE.json:15
byte-identical mandate). These outputs are FROZEN — if any assertion
here ever needs changing, that's an extractor version bump, not a fix."""

import time

import pytest

from crawlfe.extract import extract_text


def test_basic_blocks():
    html = b"<html><body><p>hello</p><p>world</p></body></html>"
    assert extract_text(html) == "hello\nworld"


def test_script_style_skipped():
    html = (
        b"<html><head><script>var x=1;</script><style>.a{}</style>"
        b"<title>Ti</title></head><body><p>body</p></body></html>"
    )
    assert extract_text(html) == "Ti\nbody"


def test_entities_decoded():
    assert extract_text(b"<p>a &amp; b &lt;c&gt;</p>") == "a & b <c>"


def test_nbsp_collapses():
    # &nbsp; decodes to U+00A0 which str.split() treats as whitespace
    assert extract_text(b"<p>a&nbsp;&nbsp;b</p>") == "a b"


def test_whitespace_collapsed():
    assert extract_text(b"<p>  a \t\n  b  </p>\n\n<p> c </p>") == "a b\nc"


def test_inline_tags_no_break():
    assert extract_text(b"<p><b>bo</b>ld <i>it</i>alic</p>") == "bold italic"


def test_multibyte_utf8():
    assert extract_text("<p>café 中文 données</p>".encode()) == "café 中文 données"


def test_invalid_utf8_replaced():
    out = extract_text(b"<p>ab\xff\xfecd</p>")
    assert out == "ab��cd"


def test_nested_skip_depth():
    html = b"<div><script>a<script>b</script>c</script>x</div><p>keep</p>"
    assert "keep" in extract_text(html)


def test_empty_and_none():
    assert extract_text(None) == ""
    assert extract_text(b"") == ""
    assert extract_text(b"<html><body></body></html>") == ""


def test_self_closing_br_breaks_line():
    assert extract_text(b"<p>a<br/>b</p>") == "a\nb"


def test_deterministic_golden():
    # pinned golden value: any algorithm drift fails loudly
    html = (
        b"<html><head><title>T1 &amp; x</title><script>s</script></head>"
        b"<body><div><p><b>alpha</b> beta</p></div><li>g</li>"
        b"<pre>p\n  q</pre></body></html>"
    )
    assert extract_text(html) == "T1 & x\nalpha beta\ng\np q"


def test_fast_scanner_differential_full_corpus():
    """extract_text (fast scanner + fallback) must be byte-identical to
    the frozen html.parser reference on EVERY synthetic page (all
    template modes) and on adversarial constructs (which must take the
    fallback, never silently diverge)."""
    from crawlfe.extract import _fast_scan, extract_text, extract_text_reference
    from crawlfe.synth import SynthConfig, gen_pages_pdf

    pdf = gen_pages_pdf(SynthConfig(n_urls=300), 0, 300)
    n_fast = 0
    for html in pdf["html"]:
        assert extract_text(html) == extract_text_reference(html)
        try:
            _fast_scan(bytes(html).decode("utf-8", errors="replace"))
            n_fast += 1
        except Exception:
            pass
    # the corpus template must actually take the fast path
    assert n_fast == len(pdf), f"only {n_fast}/{len(pdf)} fast"

    adversarial = [
        b"",
        b"plain text no tags",
        b"<p>a &amp; b &lt;c&gt; &nbsp;&mdash;</p>",
        b"<P>UPPER</P><DiV>mixed</dIv>",
        b'<p class="x">attr</p>',
        b"<p data-x='1'>attr2</p>",
        b"<!-- comment --><p>after</p>",
        b"<!DOCTYPE html><p>doc</p>",
        b"<?pi ?><p>pi</p>",
        b"5 < 6 and <p>real</p>",
        b"< p>not a tag</p>",
        b"<p>unterminated <b",
        b"<script>if (a<b) { x(); }</script><p>after</p>",
        b"<script>no close",
        b"<style >spaced</style><p>s</p>",
        b"<br/><hr/><p>x</p>",
        b"<noscript><p>hidden</p></noscript><p>shown</p>",
        b"<template><li>tmpl</li></template><p>out</p>",
        b"<pre>  keep\n  lines  </pre>",
        b"<p>&ampX &amp no-semi &unknown; &#65; &#x42;</p>",
        b"<p>\xff\xfe invalid utf8</p>",
        b"<td>cell</td><p>" + "é🎉".encode() + b"</p>",
        b"<p>a</p" ,  # truncated close
        b"<></p>",
        b"<1bad>text</1bad>",
    ]
    for html in adversarial:
        assert extract_text(html) == extract_text_reference(html), html


def test_entity_split_across_inline_tag():
    """VERDICT r2 'What's wrong' #2: an entity assembled across an
    inline tag must stay UNdecoded — html.parser decodes charrefs per
    data segment, never across a tag boundary. The r2 fast path joined
    segments before unescaping and silently decoded it."""
    from crawlfe.extract import _fast_scan, extract_text_reference

    cases = {
        b"<p>A &am</b>p; B</p>": "A &amp; B",
        b"x &am<i>p; y": "x &amp; y",
        b"<p>A &amp</b>; B</p>": "A &; B",     # '&amp' decodes w/o semi
        b"<p>&</b>amp; x</p>": "&amp; x",
        b"<p>&#6</b>5; y</p>": "5; y",  # '&#6' -> invalid cp -> ''
        b"<p>&am</p><p>p;</p>": "&am\np;",
    }
    for html, want in cases.items():
        ref = extract_text_reference(html)
        assert ref == want, (html, ref)
        assert extract_text(html) == ref, html
        # these are fast-path-eligible constructs: the fix must hold ON
        # the fast path, not by fallback
        assert _fast_scan(bytes(html).decode("utf-8", "replace")) == ref


def test_rawtext_close_case_insensitive():
    """ADVICE r2 (high): html.parser ends script/style CDATA at a
    case-insensitive, whitespace-tolerant '</\\s*name'. The fast path
    only consumes the exact lowercase literal; anything else must take
    the fallback — never skip past an earlier close."""
    import pytest

    from crawlfe.extract import _Fallback, _fast_scan, extract_text_reference

    cases = {
        b"<script>a</SCRIPT>b</script>c": "bc",
        b"<script>a</ script>b</script>c": "bc",
        b"<script>a</Script>b": "b",
        b"<style>a</STYLE>b</style>t": "bt",
        b"<script>x</scripty></script>after": "after",
    }
    for html, want in cases.items():
        ref = extract_text_reference(html)
        assert ref == want, (html, ref)
        assert extract_text(html) == ref, html
    # and the non-literal closes really do route to the fallback
    for html in [b"<script>a</SCRIPT>b</script>c",
                 b"<script>a</ script>b</script>c"]:
        with pytest.raises(_Fallback):
            _fast_scan(bytes(html).decode("utf-8", "replace"))


def test_attr_corpus_all_fast_path():
    """VERDICT r3 next-round #4 'done' bar: on an attribute-dense
    corpus (real-web shape: class/id/href-with-query-string/data-*/
    boolean attrs, quoted and bare) the fast scanner must (a) stay
    byte-identical to the reference and (b) actually fire — hit rate
    must beat 50% (it is 100% on this template set)."""
    from crawlfe.extract import _Fallback, _fast_scan, extract_text, extract_text_reference
    from crawlfe.synth import SynthConfig, gen_pages_pdf

    pdf = gen_pages_pdf(SynthConfig(n_urls=150, attr_frac=0.85), 0, 150)
    n_fast = 0
    for html in pdf["html"]:
        assert extract_text(html) == extract_text_reference(html)
        try:
            _fast_scan(bytes(html).decode("utf-8", errors="replace"))
            n_fast += 1
        except _Fallback:
            pass
    assert n_fast / len(pdf) > 0.5, f"hit rate {n_fast}/{len(pdf)}"
    assert n_fast == len(pdf)  # this template set is fully in-grammar


def test_bare_value_unicode_ws_boundary_falls_back():
    """r4-dev divergence class: html.parser's bare attr value charset
    is [^>\\s] with UNICODE \\s, so '\\x0b'/'\\x85'/'\\xa0' end the
    value there and '<noscript a=b\\x0b/>' is a true SELF-CLOSE (no
    skip-depth push). An ASCII-blind fast grammar would swallow the
    byte into the value, read a plain start tag, and skip the visible
    text. These must fall back and stay byte-identical."""
    import pytest

    from crawlfe.extract import _Fallback, _fast_scan, extract_text, extract_text_reference

    cases = [
        b"<noscript a=b\x0b/>hidden</noscript>vis",
        "<noscript a=b\xa0/>hidden</noscript>vis".encode(),
        b"<script a=b\x0b/>var x;</script>vis",
        "<noscript a=b\x85/>hidden</noscript>vis".encode(),
    ]
    for html in cases:
        assert extract_text(html) == extract_text_reference(html), html
        with pytest.raises(_Fallback):
            _fast_scan(bytes(html).decode("utf-8", "replace"))
    # while '='-bearing bare values (query-string URLs) stay FAST
    fast_ok = [
        b"<a href=/p/1?a=1&amp;b=2>x</a>",
        b"<p a=b=c>x</p>", b"<p a=1,b=2>x</p>", b"<p a=`v`>x</p>",
    ]
    for html in fast_ok:
        raw = bytes(html).decode("utf-8")
        assert _fast_scan(raw) == extract_text_reference(html), html


def test_fast_scanner_hypothesis_differential():
    """Property fuzz (VERDICT r2 next-round #7): random tag soup —
    entities split by tags, attributes, comments, rawtext with
    mixed-case closes, malformed tags — must be byte-identical between
    extract_text and the frozen reference, whichever path it takes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from crawlfe.extract import extract_text, extract_text_reference

    atom = st.one_of(
        st.sampled_from(
            [
                "<p>", "</p>", "<b>", "</b>", "<i>", "</i>", "<div>",
                "</div>", "<br/>", "<li>", "</li>", "<P>", "</B>",
                "<script>", "</script>", "</SCRIPT>", "</ script>",
                "<style>", "</style>", "</StYlE>",
                "<p class='x'>", "<!-- c -->", "<!DOCTYPE html>",
                "&amp;", "&amp", "&am", "p;", "&lt;", "&#65;", "&#x4",
                "2;", "&nbsp;", "&unknown;", "&",
                " ", "\n", "\t", "txt", "a b", "<", ">", "café",
                "</scri", "pt>", "< p>", "<1x>",
                # r4: attribute grammar (quoted/bare/boolean values,
                # '='-bearing URLs, near-misses, unicode-\s bare-value
                # boundary that must fall back — see scripts/fuzz_extract)
                '<p class="x">', "<a href=/p/1?a=1&amp;b=2>",
                "<img src=x.png width=100/>", "<input hidden>",
                '<p a = "b c">', "<p a=1/>", '<p a=">">', "<p a==b>",
                "<p a/b>", "<p a=>", "<p a=b<c>", "<p a=`v`>",
                "<noscript a=b\x0b/>", "<p a=b\xa0/>",
                "<script a=b\x85/>", '<td colspan="2" >',
                # edges of the token regex's alternation (see
                # scripts/fuzz_extract.py)
                "<!--", "<!-->", "--!>", "<![CDATA[x]]>",
                "</script\xa0>", "</script x>", "<SCRIPT>", "<style/>",
                "<?", "<!", "<![x]>", "<![ ]>", "<![1]>", "<![if x]>",
            ]
        ),
        st.text(
            alphabet="ab<>&;#xAP/ \n\t=\"'\x0b\xa0" + "é", min_size=0,
            max_size=6,
        ),
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(atom, min_size=0, max_size=24))
    def prop(parts):
        html = "".join(parts).encode("utf-8", "surrogatepass")
        assert extract_text(html) == extract_text_reference(html)

    prop()


@pytest.mark.parametrize(
    "html,want",
    [
        (b"<![x]>", ""),
        (b"a<![x]>b", "ab"),
        (b"<![ ]>c", "c"),
        (b"<![CDATA[x]]>", ""),
    ],
)
def test_marked_section_never_raises(html, want):
    """html.parser's _markupbase raises AssertionError on a marked
    section with an unknown keyword or no name; the reference skips it
    to the next ']>' instead, and the fast path agrees."""
    from crawlfe.extract import extract_text, extract_text_reference

    assert extract_text_reference(html) == want
    assert extract_text(html) == want


# Documents the fast path cannot finish, repeated n times. findall
# tokenizes the whole document before the scan loop can raise, so every
# construct it rejects must swallow the rest of the document; one that
# failed and let findall retry at the next '<' rescans the tail each
# time, and the pass goes quadratic.
_ADVERSARIAL = {
    "comment_open": lambda n: "<!--" * n,
    "script_open": lambda n: "<script>" * n,
    "bogus_comment": lambda n: "<!x" * n,
    "pi_open": lambda n: "<?x" * n,
    "open_quote": lambda n: '<p a="' + "<p a=" * n,
    "script_soup": lambda n: "<script>" + "a<b " * n,
}


def _best_s(fn, reps: int = 7, budget_s: float = 2.0) -> float:
    """Best wall time of ``fn()`` over ``reps`` calls, stopping early
    once ``budget_s`` is spent (a quadratic regression stays cheap)."""
    best, spent = float("inf"), 0.0
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best, spent = min(best, dt), spent + dt
        if spent > budget_s:
            break
    return best


def _scan_or_fallback(raw: str) -> None:
    from crawlfe.extract import _Fallback, _fast_scan

    try:
        _fast_scan(raw)
    except _Fallback:
        pass


@pytest.mark.parametrize("name", sorted(_ADVERSARIAL))
def test_fast_scan_linear_on_adversarial_input(name):
    """8x the input costs about 8x the time; quadratic would be 64x."""
    small, big = (_ADVERSARIAL[name](n) for n in (2000, 16000))
    small_s = _best_s(lambda: _scan_or_fallback(small))
    big_s = _best_s(lambda: _scan_or_fallback(big))
    assert big_s < 24 * small_s, (name, small_s, big_s)


def test_fast_scan_large_document():
    """A ~5 MB attribute-dense page (synthetic pages concatenated) takes
    the fast path, matches the reference, and costs per byte about what
    its parts cost one by one."""
    from crawlfe.extract import _fast_scan, extract_text_reference
    from crawlfe.synth import SynthConfig, gen_pages_pdf

    pdf = gen_pages_pdf(SynthConfig(n_urls=150, attr_frac=0.85), 0, 150)
    parts = [bytes(h).decode("utf-8") for h in pdf["html"]]
    part = "".join(parts)
    reps = 5_000_000 // len(part) + 1
    raw = part * reps
    whole_s = _best_s(lambda: _fast_scan(raw), reps=3)
    parts_s = _best_s(lambda: [_fast_scan(p) for p in parts], reps=3) * reps
    assert whole_s < 4 * parts_s, (whole_s, parts_s)
    assert _fast_scan(raw) == extract_text_reference(raw.encode("utf-8"))
