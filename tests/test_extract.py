"""Unit vectors for text/link extraction, ported from the reference's
table-driven tests (/root/reference/internal/parser/extractor_test.go)."""

from nimbus_crawler_spark.functions.extract import extract_links, extract_text


class TestExtractText:
    # extractor_test.go:19-66
    def test_basic_body_text(self):
        assert "Hello World" in extract_text("<html><body><p>Hello World</p></body></html>")

    def test_strips_script_style_noscript_iframe(self):
        html = (
            "<html><body><script>var x=1;</script><style>.a{}</style>"
            "<noscript>no</noscript><iframe>frame</iframe><p>Visible</p></body></html>"
        )
        got = extract_text(html)
        assert "Visible" in got
        for bad in ("var x=1;", ".a{}", "no", "frame"):
            assert bad not in got.replace("Visible", "")

    def test_empty_body(self):
        assert extract_text("<html><body></body></html>") == ""

    def test_nested_elements(self):
        got = extract_text("<html><body><div><span>Nested</span> <b>Text</b></div></body></html>")
        assert "Nested" in got
        assert got == "Nested Text"

    # extractor_test.go:68-75
    def test_strips_script_content(self):
        got = extract_text("<html><body><script>var secret=1;</script><p>OK</p></body></html>")
        assert "secret" not in got
        assert got == "OK"

    def test_exact_bytes(self):
        # byte-identity checks beyond the reference's 'contains' assertions
        assert extract_text("<html><body><p>Hello World</p></body></html>") == "Hello World"
        assert extract_text("<html><body>  padded  </body></html>") == "padded"
        assert (
            extract_text("<html><body><p>a</p><p>b</p></body></html>") == "ab"
        )  # no separator between text nodes (goquery Text())

    def test_bytes_input(self):
        assert extract_text(b"<html><body><p>Hi</p></body></html>") == "Hi"

    def test_head_text_excluded(self):
        got = extract_text(
            "<html><head><title>T</title></head><body><p>B</p></body></html>"
        )
        assert got == "B"

    def test_entities_decoded(self):
        assert extract_text("<html><body><p>a &amp; b</p></body></html>") == "a & b"


class TestExtractURLs:
    # extractor_test.go:77-164, table rows in order
    def test_absolute_urls(self):
        html = '<html><body><a href="https://example.com/page">link</a></body></html>'
        assert extract_links(html, "https://example.com") == ["https://example.com/page"]

    def test_relative_urls_resolved(self):
        html = '<html><body><a href="/about">about</a></body></html>'
        assert extract_links(html, "https://example.com") == ["https://example.com/about"]

    def test_javascript_mailto_tel_hash_filtered(self):
        html = (
            '<html><body><a href="javascript:void(0)">js</a><a href="mailto:a@b.com">mail</a>'
            '<a href="tel:123">tel</a><a href="#top">hash</a><a href="https://ok.com">ok</a></body></html>'
        )
        assert extract_links(html, "https://example.com") == ["https://ok.com"]

    def test_non_http_scheme_filtered_after_resolution(self):
        html = (
            '<html><body><a href="ftp://files.example.com/data">ftp</a>'
            '<a href="https://ok.com">ok</a></body></html>'
        )
        assert extract_links(html, "https://example.com") == ["https://ok.com"]

    def test_duplicates_deduplicated(self):
        html = (
            '<html><body><a href="https://example.com/page">a</a>'
            '<a href="https://example.com/page">b</a></body></html>'
        )
        assert extract_links(html, "https://example.com") == ["https://example.com/page"]

    def test_normalization_lowercase_host_remove_fragment_sort_query(self):
        html = '<html><body><a href="https://Example.COM/path?b=2&a=1#frag">link</a></body></html>'
        assert extract_links(html, "https://example.com") == [
            "https://example.com/path?a=1&b=2"
        ]

    def test_invalid_base_url_returns_none(self):
        html = '<html><body><a href="/page">link</a></body></html>'
        assert extract_links(html, "://invalid") is None

    def test_empty_href_skipped(self):
        html = '<html><body><a href="">empty</a><a href="https://ok.com">ok</a></body></html>'
        assert extract_links(html, "https://example.com") == ["https://ok.com"]

    def test_mixed_valid_and_invalid_hrefs(self):
        html = (
            '<html><body><a href="javascript:alert(1)">bad</a>'
            '<a href="https://good.com/a">good</a><a href="mailto:x@y.z">mail</a>'
            '<a href="/relative">rel</a></body></html>'
        )
        assert extract_links(html, "https://example.com") == [
            "https://good.com/a",
            "https://example.com/relative",
        ]

    def test_document_order_preserved(self):
        html = (
            '<html><body><div><a href="/z">z</a></div><a href="/a">a</a>'
            '<span><a href="/m">m</a></span></body></html>'
        )
        assert extract_links(html, "https://h.test") == [
            "https://h.test/z",
            "https://h.test/a",
            "https://h.test/m",
        ]

    def test_dedup_is_on_normalized_form(self):
        html = (
            '<html><body><a href="https://E.com/x?b=1&a=2">1</a>'
            '<a href="https://e.com/x?a=2&b=1#f">2</a></body></html>'
        )
        assert extract_links(html, "https://e.com") == ["https://e.com/x?a=2&b=1"]


class TestFastTokenizerEquivalence:
    """The fast tokenizer must be indistinguishable from the stdlib parser:
    on every input it ACCEPTS, the built tree is identical; everything else
    falls back. These tests compare trees directly (not just extracted
    text), so an accepted-but-divergent tokenization cannot hide behind
    text-extraction coincidences."""

    @staticmethod
    def _stdlib_root(html: str):
        from nimbus_crawler_spark.functions.extract import _TreeBuilder

        tb = _TreeBuilder()
        tb.feed(html)
        tb.close()
        return tb.root

    @staticmethod
    def _fast(html: str):
        from nimbus_crawler_spark.functions.extract import _TreeBuilder, _fast_feed

        tb = _TreeBuilder()
        return _fast_feed(tb, html), tb.root

    @classmethod
    def _ser(cls, node):
        from nimbus_crawler_spark.functions.extract import _Node

        if not isinstance(node, _Node):
            return node
        return (node.tag, tuple(node.attrs), tuple(cls._ser(c) for c in node.children))

    def assert_equiv(self, html: str):
        ok, fast_root = self._fast(html)
        if ok:
            assert self._ser(fast_root) == self._ser(self._stdlib_root(html)), html

    ADVERSARIAL = [
        "",
        "plain text only & &amp; &lt;",
        "<html><body><p>a<p>b</p></body></html>",
        '<a href="x>y">quoted gt</a>',
        "<a href=x/>bare slash value</a>",
        "<a href=x />self close after bare</a>",
        "<br/><br /><hr>",
        "<a b></a><a b=''></a><a b=>bare empty</a>",
        "<A HREF='Y'>case</A>",
        "<a\nhref='y'\t>ws</a>",
        "stray < lt",
        "a < b > c",
        "<",
        "</",
        "<a",
        "<a href='unterminated",
        "<!doctype html><p>x</p>",
        "<!-- comment --><p>x</p>",
        "<?pi?><p>x</p>",
        "<script>var x = '<div>not a tag</div>';</script>after",
        "<SCRIPT>UP</SCRIPT>ok",
        "<script>no close ever",
        "<script>a</scriptx></script>done",
        "<style>p>q{}</style>",
        "<script src='x'/>selfclosing script stays out of cdata<p>t</p>",
        "<title>&amp; in title</title>",
        "text &amp; entities &#65; &unknown; &lt",
        "<p a=1 b=2 c>mix</p>",
        "<p a==b>double eq</p>",
        "<p a=b=c>eq in bare</p>",
        "<p/ >odd slash</p>",
        "<p / x>slash between attrs</p>",
        "<p x='a&amp;b' y=\"&lt;\">attr entities</p>",
        "<ul><li>1<li>2</ul>",
        "<td>x<td>y",
        "<a=b href=c>weird name</a=b>",
        "</a stray='attr'>",
        "<div \x0b>vt</div>",
        "nested <div><div><div>deep</div></div></div>",
        # quote-leading attribute NAMES: the stdlib reads the quote as an
        # unterminated value spanning '>' and emits the whole tag as text;
        # the fast grammar must refuse (round-5 advisory finding)
        '<b a= "x>t ',
        '<a href= "x>y</a> ',
        "<p \"q=1>x</p>",
        "<p 'a>y</p>",
        "<p a= 'b>c'>d</p>",
    ]

    def test_adversarial_vectors(self):
        for html in self.ADVERSARIAL:
            self.assert_equiv(html)

    def test_corpus_pages_identical_and_fast_path_engages(self):
        from nimbus_crawler_spark.sources.corpus import make_corpus

        corpus = make_corpus(seed=23, n_hosts=8, pages_per_host=12, heavy_dom=30)
        accepted = 0
        for page in corpus.pages:
            html = page["html"]
            if isinstance(html, (bytes, bytearray)):
                html = bytes(html).decode("utf-8", errors="replace")
            ok, fast_root = self._fast(html)
            if ok:
                accepted += 1
                assert self._ser(fast_root) == self._ser(self._stdlib_root(html))
        # the fast path must actually cover the corpus shape, or the
        # optimization silently evaporates
        assert accepted / len(corpus.pages) > 0.95

    def test_public_api_equivalence_with_stdlib_tree(self):
        import nimbus_crawler_spark.functions.extract as ex

        html = (
            "<html><head><title>t</title></head><body><h1>H</h1>"
            '<script>var x = "SECRET";</script><style>.x{color:red}</style>'
            '<p>para &amp; more</p><a href="/x">l</a>'
            '<a href="https://h.example/y?b=1&a=2">m</a></body></html>'
        )
        base = "https://h.example/p"
        fast = (ex.extract_text(html), ex.extract_links(html, base))
        assert fast == ex._page_from_tree(ex._stdlib_tree(html), base)

    def test_hypothesis_fuzz(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        frag = st.sampled_from(
            [
                "<p>", "</p>", "<a href='x'>", '<a href="y&amp;z">', "</a>",
                "<br/>", "<script>", "</script>", "<style>", "</style>",
                "text", "&amp;", "&#65;", "&broken", "<", ">", "/", "'",
                '"', "=", "<!--", "-->", "<!doctype html>", " ", "\n",
                "<div a=b>", "<div a>", "</div>", "<DIV>", "<td>", "x<y",
            ]
        )

        @settings(max_examples=400, deadline=None)
        @given(st.lists(frag, min_size=0, max_size=20))
        def check(parts):
            self.assert_equiv("".join(parts))

        check()

    def test_hypothesis_raw_char_fuzz(self):
        """Raw-character fuzz (not fragment-composed): catches divergence
        classes the fragment fuzz can't reach, e.g. quote-leading attribute
        names after 'attr= ' (the round-5 advisory finding)."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=600, deadline=None)
        @given(st.text(alphabet="<>/='\"ab x&;#!-\n\t", max_size=40))
        def check(html):
            self.assert_equiv(html)

        check()


BASE = "https://h.example/dir/page"


def _assert_page_matches_tree(html: str):
    """parse_page (streaming hot path + tree fallback) ≡ the stdlib tree path
    on text AND links, and the fused kernel refuses exactly the inputs the
    tree tokenizer refuses."""
    import nimbus_crawler_spark.functions.extract as ex

    fast = ex.parse_page(html, BASE)
    slow = ex._page_from_tree(ex._stdlib_tree(html), BASE)
    assert fast == slow, repr(html)
    refused = ex._stream_parse(html) is None
    assert refused == (not ex._fast_feed(ex._TreeBuilder(), html)), repr(html)


def _corpus_html(seed: int):
    from nimbus_crawler_spark.sources.corpus import make_corpus

    corpus = make_corpus(seed=seed, n_hosts=6, pages_per_host=10, heavy_dom=25)
    for page in corpus.pages:
        html = page["html"]
        if isinstance(html, (bytes, bytearray)):
            html = bytes(html).decode("utf-8", errors="replace")
        yield html


class TestStreamingParsePageEquivalence:
    """parse_page's streaming hot path must equal the stdlib tree path —
    text AND links — on everything it accepts; off-domain input must reach
    the tree fallback transparently."""

    def test_adversarial_vectors(self):
        vectors = TestFastTokenizerEquivalence.ADVERSARIAL + [
            "<body>plain</body>",
            "<body>a<script>x</script>b</body>",
            "<body>t1</body><body>t2</body>",
            "<body>outer<body>inner</body>tail</body>",
            "<iframe><body>inside removed</body></iframe><body>real</body>",
            "<body><noscript><a href='/n'>n</a>hidden</noscript>vis</body>",
            "<head><a href='/h'>head link</a></head><body>b</body>",
            "<body><a href='/x'>1</a><a>no href</a><a href>bare</a>"
            "<a href=''>empty</a><a href='  /sp  '>sp</a></body>",
            "<body><a href='javascript:x'>j</a><a href='#f'>f</a>"
            "<a href='mailto:m'>m</a><a href='tel:1'>t</a></body>",
            "<body><a href='/x'>1</a><a href='/x'>dup</a>"
            "<a href='HTTPS://H.example/x'>case</a></body>",
            "<body><p>p1<p>p2<li>l1<li>l2</body>",
            "<body><br><img src='i'><a href='v'/>after</body>",
            "<body>eof never closed",
            "<body><div>deep<div>er</div>",
            "<body>&amp;ent</body><body><a href='/y?b=2&amp;a=1'>q</a></body>",
            "no body at all <a href='/z'>link</a>",
            "<BODY>upper</BODY>",
            "<body class='c'>attrs on body</body>",
            "<body><a href='/1' HREF='/2'>first href wins</a><a name=n href>bare</a></body>",
        ]
        for html in vectors:
            _assert_page_matches_tree(html)

    def test_corpus_pages_and_streaming_engages(self):
        from nimbus_crawler_spark.functions.extract import _stream_parse

        streamed = n_html = 0
        for h in _corpus_html(seed=29):
            if "<body" in h:  # robots.txt / binary rows have no body → tree path
                n_html += 1
                sp = _stream_parse(h)
                if sp is not None and sp[0]:
                    streamed += 1
            _assert_page_matches_tree(h)
        assert n_html > 0 and streamed / n_html > 0.95

    def test_hypothesis_fuzz(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        frag = st.sampled_from(
            [
                "<body>", "</body>", "<p>", "</p>", "<a href='/x'>",
                '<a href="/y?b=1&amp;a=2">', "</a>", "<br/>", "<script>",
                "</script>", "<noscript>", "</noscript>", "<iframe>",
                "</iframe>", "text", "&amp;", "<", ">", "<!--", "-->",
                "<td>", "</td>", "<li>", " ", "<a href=''>", "<a>",
                "<BODY>", "</BODY>", "<head>", "</head>",
            ]
        )

        @settings(max_examples=400, deadline=None)
        @given(st.lists(frag, min_size=0, max_size=20))
        def check(parts):
            _assert_page_matches_tree("".join(parts))

        check()


class TestFusedStreamParse:
    """The fused single-loop ``_stream_parse`` (the parse hot path), pinned
    straight against the stdlib tree path through ``parse_page``: same
    accept/refuse decision as the tree tokenizer, same text, same links."""

    def test_adversarial_vectors(self):
        for html in TestFastTokenizerEquivalence.ADVERSARIAL:
            _assert_page_matches_tree(html)

    def test_corpus_pages(self):
        for html in _corpus_html(seed=31):
            _assert_page_matches_tree(html)

    def test_hypothesis_raw_char_fuzz(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=600, deadline=None)
        @given(st.text(alphabet="<>/='\"ab x&;#!-\n\t", max_size=40))
        def check(html):
            _assert_page_matches_tree(html)

        check()

    def test_fragment_fuzz(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        frag = st.sampled_from(
            [
                "<body>", "</body>", "<p>", "</p>", "<a href='/x'>",
                '<a href="/y?b=1&amp;a=2">', "</a>", "<br/>", "<script>",
                "</script>", "<noscript>", "</noscript>", "<iframe>",
                "</iframe>", "text", "&amp;", "<", ">", "<td>", "</td>",
                "<li>", " ", "<a href=''>", "<a>", "<BODY>", "</BODY>",
                "<body/>", "<a href='/z'/>", "<p a= 'b>c'>",
            ]
        )

        @settings(max_examples=400, deadline=None)
        @given(st.lists(frag, min_size=0, max_size=20))
        def check(parts):
            _assert_page_matches_tree("".join(parts))

        check()
