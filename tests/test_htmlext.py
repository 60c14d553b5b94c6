"""Golden tests for the real-HTML extraction kernel (kernels/htmlext):
tag stripping, script/style/comment removal, entity decoding, whitespace
normalization, <base>-aware relative-href resolution."""

from warc_spark.kernels.htmlext import (
    extract_links,
    html_to_text,
    redecode_html,
    redecode_utf8,
)


class TestHtmlToText:
    def test_nested_tags_and_structure(self):
        html = (
            "<html><head><title>My Page</title></head><body>"
            "<div><p>Hello <b>bold</b> and <i>italic <u>deep</u></i> world.</p>"
            "<ul><li>one</li><li>two</li></ul></div></body></html>"
        )
        assert html_to_text(html) == (
            "My Page\nHello bold and italic deep world.\none\ntwo"
        )

    def test_script_style_comment_removed(self):
        html = (
            "<body><!-- nav starts -->"
            "<script>var s = '<p>fake para</p>';</script>"
            "<style>p { color: red }</style>"
            "<noscript>enable js</noscript>"
            "<p>real text</p></body>"
        )
        assert html_to_text(html) == "real text"

    def test_entities_decoded_after_stripping(self):
        html = "<p>Tom &amp; Jerry &lt;3 &#169; caf&eacute; &#x2014; end</p>"
        assert html_to_text(html) == "Tom & Jerry <3 © café — end"

    def test_whitespace_normalization(self):
        html = "<div>  a   lot\t of\n  space  </div><div>next   block</div>"
        assert html_to_text(html) == "a lot of\nspace\nnext block"

    def test_br_and_blank_lines_collapse(self):
        assert html_to_text("x<br><br><br>y") == "x\ny"

    def test_none_and_empty(self):
        assert html_to_text(None) is None
        assert html_to_text("") == ""
        assert html_to_text("<script>x</script>") == ""


class TestExtractLinks:
    BASE = "http://host.example.com/a/b/page.html"

    def test_relative_resolution(self):
        html = (
            '<a href="c.html">1</a>'
            '<a href="../up.html">2</a>'
            '<a href="/rooted">3</a>'
            '<a href="//other.example.org/x">4</a>'
            '<a href="https://abs.example.net/y">5</a>'
        )
        assert extract_links(html, self.BASE) == [
            "http://host.example.com/a/b/c.html",
            "http://host.example.com/a/up.html",
            "http://host.example.com/rooted",
            "http://other.example.org/x",
            "https://abs.example.net/y",
        ]

    def test_base_tag_rebases(self):
        html = (
            '<head><base href="http://cdn.example.com/root/"></head>'
            '<body><a href="rel.html">x</a></body>'
        )
        assert extract_links(html, self.BASE) == [
            "http://cdn.example.com/root/rel.html"
        ]

    def test_relative_base_resolves_against_page(self):
        html = '<base href="sub/"><a href="f.html">x</a>'
        assert extract_links(html, self.BASE) == [
            "http://host.example.com/a/b/sub/f.html"
        ]

    def test_quote_styles_and_entities(self):
        html = (
            "<a href='single.html'>s</a>"
            "<a href=unquoted.html>u</a>"
            '<a href="q.html?a=1&amp;b=2">e</a>'
        )
        assert extract_links(html, self.BASE) == [
            "http://host.example.com/a/b/single.html",
            "http://host.example.com/a/b/unquoted.html",
            "http://host.example.com/a/b/q.html?a=1&b=2",
        ]

    def test_skips_fragments_and_schemes(self):
        html = (
            '<a href="#top">f</a>'
            '<a href="javascript:void(0)">j</a>'
            '<a href="mailto:x@example.com">m</a>'
            '<a href="tel:+1555">t</a>'
            '<a href="data:text/plain,hi">d</a>'
            '<a href="real.html#sec2">r</a>'
        )
        assert extract_links(html, self.BASE) == [
            "http://host.example.com/a/b/real.html"
        ]

    def test_links_in_comments_and_scripts_ignored(self):
        html = (
            '<!-- <a href="dead.html">x</a> -->'
            '<script>document.write(\'<a href="gen.html">g</a>\');</script>'
            '<a href="live.html">l</a>'
        )
        assert extract_links(html, self.BASE) == [
            "http://host.example.com/a/b/live.html"
        ]

    def test_area_and_multiline_tags(self):
        html = '<area\n  shape="rect"\n  href="map.html">'
        assert extract_links(html, self.BASE) == [
            "http://host.example.com/a/b/map.html"
        ]

    def test_none_html(self):
        assert extract_links(None, self.BASE) == []


class TestExtractLinkAnchors:
    def test_pairs_with_anchor_processing(self):
        from warc_spark.kernels.htmlext import extract_link_anchors

        html = (
            '<base href="http://h.example.org/a/">'
            '<a href="p1">First &amp; <b>bold</b></a>'
            '<a href="p2">  spaced\n\t text </a>'
            '<a href="/root">plain</a>'
            '<a href="img"><img src="x.png"></a>'
        )
        assert extract_link_anchors(html, "http://decoy/") == [
            ("http://h.example.org/a/p1", "First & bold"),
            ("http://h.example.org/a/p2", "spaced text"),
            ("http://h.example.org/root", "plain"),
            ("http://h.example.org/a/img", ""),
        ]

    def test_same_skip_rules_as_extract_links(self):
        from warc_spark.kernels.htmlext import extract_link_anchors

        html = (
            '<a href="#frag">f</a><a href="javascript:void(0)">j</a>'
            "<!-- <a href=\"dead\">d</a> -->"
            "<script>var s = '<a href=\"code\">c</a>';</script>"
            '<a href="http://ok.example.org/x">ok</a>'
        )
        assert extract_link_anchors(html, None) == [
            ("http://ok.example.org/x", "ok")
        ]

    def test_unclosed_and_area_are_href_only(self):
        """Anchor text needs the closing tag: unclosed <a> and <area>
        stay extract_links' job and emit no pair here."""
        from warc_spark.kernels.htmlext import extract_link_anchors, extract_links

        html = '<area href="http://a.example.org/m"><a href="http://b.example.org/u">tail'
        assert extract_link_anchors(html, None) == []
        assert extract_links(html, None) == [
            "http://a.example.org/m", "http://b.example.org/u",
        ]

    def test_anchor_cap_and_none(self):
        from warc_spark.kernels.htmlext import extract_link_anchors

        long = "x" * 900
        html = f'<a href="http://h.example.org/p">{long}</a>'
        [(u, a)] = extract_link_anchors(html, None)
        assert len(a) == 500
        assert extract_link_anchors(None, "http://h/") == []


class TestRedecodeUtf8:
    """Charset fix-up for the byte-preserving latin-1 ingest path."""

    def test_utf8_bytes_redecoded(self):
        # "café" as utf-8 bytes, read back through a latin-1 decode
        raw = "café".encode("utf-8").decode("latin-1")
        assert raw == "cafÃ©"  # the mojibake shape
        assert redecode_utf8(raw) == "café"

    def test_real_latin1_preserved(self):
        # 0xE9 alone is invalid utf-8 -> stays the latin-1 decode
        raw = b"caf\xe9".decode("latin-1")
        assert redecode_utf8(raw) == "café"

    def test_ascii_and_none_unchanged(self):
        assert redecode_utf8("plain ascii") == "plain ascii"
        assert redecode_utf8(None) is None

    def test_already_decoded_passthrough(self):
        # a string that cannot round-trip to latin-1 was decoded upstream
        assert redecode_utf8("已解码") == "已解码"

    def test_pipeline_with_utf8_page(self):
        body = "<p>Zoë &amp; 中文</p>".encode("utf-8").decode("latin-1")
        assert html_to_text(redecode_utf8(body)) == "Zoë & 中文"


class TestUnclosedScriptStyle:
    """VERDICT r3 #5: an unterminated <script>/<style> (truncated capture)
    runs to EOF, browser-style — its content must never leak into text or
    links."""

    def test_unclosed_script_runs_to_eof(self):
        html = (
            "<html><body><p>Real text</p>"
            '<script>var x = "<p>fake</p>"; document.write('
        )  # capture truncated mid-script
        assert html_to_text(html) == "Real text"

    def test_unclosed_style_runs_to_eof(self):
        html = "<p>Kept</p><style>.a {content: 'leak?'"
        assert html_to_text(html) == "Kept"

    def test_closed_then_unclosed(self):
        html = (
            "<script>closed();</script><p>alpha</p>"
            "<noscript>also closed</noscript><p>beta</p>"
            "<script>trunca"
        )
        assert html_to_text(html) == "alpha\nbeta"

    def test_unclosed_script_links_dropped(self):
        html = (
            '<a href="/keep.html">k</a>'
            '<script>var a = \'<a href="/dead.html">d</a>\';'
        )
        assert extract_links(html, "http://s.example.com/") == [
            "http://s.example.com/keep.html"
        ]

    def test_closed_pairs_unchanged(self):
        # regression guard: fully-closed documents behave exactly as before
        html = (
            "<script>x()</script><p>one</p><style>s{}</style><p>two</p>"
        )
        assert html_to_text(html) == "one\ntwo"


class TestRedecodeHtml:
    """VERDICT r3 #6: declared-charset redecode beyond utf-8 (stdlib
    codecs), utf-8/ascii path unchanged."""

    def _mirror(self, raw: bytes) -> str:
        return raw.decode("latin-1")

    def test_utf8_still_wins(self):
        raw = "<p>café</p>".encode("utf-8")
        assert redecode_html(self._mirror(raw)) == "<p>café</p>"

    def test_ascii_unchanged(self):
        assert redecode_html("<p>plain</p>") == "<p>plain</p>"
        assert redecode_html(None) is None

    def test_meta_charset_windows_1251(self):
        body = '<html><head><meta charset="windows-1251"></head><body>Привет</body></html>'
        raw = body.encode("windows-1251")
        assert redecode_html(self._mirror(raw)) == body

    def test_http_equiv_shift_jis(self):
        body = (
            '<html><head><meta http-equiv="Content-Type" '
            'content="text/html; charset=Shift_JIS"></head>'
            "<body>日本語のテキスト</body></html>"
        )
        raw = body.encode("shift_jis")
        assert redecode_html(self._mirror(raw)) == body

    def test_content_type_header_beats_meta_absence(self):
        body = "<html><body>Русский текст без меты</body></html>"
        raw = body.encode("koi8-r")
        got = redecode_html(self._mirror(raw), "text/html; charset=koi8-r")
        assert got == body

    def test_gb2312_meta(self):
        body = "<html><meta charset=gb2312><body>中文内容</body></html>"
        raw = body.encode("gb2312")
        assert redecode_html(self._mirror(raw)) == body

    def test_unknown_charset_falls_back(self):
        s = self._mirror(b"<meta charset=x-nope>\xff\xfe bytes")
        assert redecode_html(s) == s  # never raises

    def test_wrong_declaration_undecodable_falls_back(self):
        # declared shift_jis but bytes are invalid for it -> latin-1 mirror
        raw = b"<meta charset=shift_jis>\x81"  # truncated SJIS lead byte
        s = self._mirror(raw)
        assert redecode_html(s) == s

    def test_declared_latin1_identity(self):
        raw = "<meta charset=iso-8859-1><p>fête</p>".encode("latin-1")
        s = self._mirror(raw)
        assert redecode_html(s) == s

    def test_full_pipeline_1251(self):
        body = (
            '<html><head><meta charset=windows-1251><title>Тест</title></head>'
            "<body><p>Первый абзац</p></body></html>"
        )
        raw = body.encode("windows-1251")
        assert html_to_text(redecode_html(self._mirror(raw))) == "Тест\nПервый абзац"
