"""HTML text/link extraction kernels (pure Python, Arrow-batch friendly).

Re-expresses the reference parser's semantics
(``/root/reference/internal/parser/extractor.go``):

* ``ExtractText`` (extractor.go:21-30): remove every ``script``, ``style``,
  ``noscript``, ``iframe`` element document-wide, then for each ``<body>``
  element concatenate all descendant text nodes in document order and
  TrimSpace the per-body result. **Byte-identical output per url is the
  engine's per-row invariant** (BASELINE.json input_hint).
* ``ExtractURLs`` (extractor.go:32-76): every ``a[href]`` in document order;
  trim href; drop empty / ``javascript:`` / ``mailto:`` / ``tel:`` / ``#``
  prefixes; resolve against the frontier URL; keep scheme ∈ {http, https};
  purell-normalize; order-preserving first-wins dedup per page.

Parser note: the reference uses Go x/net/html (WHATWG HTML5). This module
uses the stdlib ``html.parser`` tree-builder below; the synthetic corpus is
restricted to well-formed HTML where the two tree constructions agree
(SURVEY.md §7.3 risk 1). The golden ``text`` column in fixtures is produced
*independently* by the corpus generator, so agreement is tested, not assumed.
"""

from __future__ import annotations

from html.parser import HTMLParser

from .urlnorm import canonicalize, parse_url, resolve_reference

_VOID_ELEMENTS = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    }
)

_REMOVED_TAGS = frozenset({"script", "style", "noscript", "iframe"})

# Elements whose start tag implicitly closes an open element of the same tag
# (minimal HTML5 tree-construction recovery for common cases).
_SELF_NESTING_CLOSERS = frozenset({"p", "li", "option", "tr", "td", "th"})

_HEAD_ONLY_TAGS = frozenset({"head", "title", "meta", "base", "basefont"})


class _Node:
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs: list[tuple[str, str | None]] | None = None):
        self.tag = tag
        self.attrs = attrs or []
        self.children: list[object] = []  # _Node | str (text)

    def attr(self, name: str) -> str | None:
        for k, v in self.attrs:
            if k == name:
                return v if v is not None else ""
        return None


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("#document")
        self.stack = [self.root]

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SELF_NESTING_CLOSERS and self.stack[-1].tag == tag:
            self.stack.pop()
        node = _Node(tag, attrs)
        self.stack[-1].children.append(node)
        if tag not in _VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        self.stack[-1].children.append(_Node(tag, attrs))

    def handle_endtag(self, tag: str) -> None:
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # stray end tag: ignored (matches HTML5 recovery for simple cases)

    def handle_data(self, data: str) -> None:
        if data:
            self.stack[-1].children.append(data)


# --- fast tokenizer -------------------------------------------------------
# The stdlib HTMLParser tokenizes char-by-char with ~6 regex matches per tag
# (profiled: 84% of parse_page wall). This scanner drives the SAME
# _TreeBuilder callbacks with one strict-grammar match per tag, and REFUSES
# (returns False, no events kept) the moment the input steps outside the
# grammar below — the caller then re-parses with the stdlib, so any page the
# fast path accepts produces a byte-identical tree BY CONSTRUCTION of the
# strict domain, and any page it cannot prove falls back to the always-
# correct path. Differential tests (tests/test_extract.py) pin fast≡stdlib
# over the bench corpora, the ported reference vectors, and adversarial
# inputs.
#
# Strict domain (each rule STRICTER than the stdlib's tolerant grammar, so
# a fast-path match can never read differently than the stdlib would):
#   * no "<!" or "<?" anywhere (comments / doctype / PI → stdlib)
#   * every '<' begins a start tag  <name attr="v" attr2 bare=x /?>  with
#     attrs separated by whitespace, single '=', values quoted or bare
#     (bare may contain '/' exactly as the stdlib's), or an end tag
#     </name> — anything else (stray '<', incomplete tag at EOF, '/' between
#     attrs, value directly followed by an attr) → stdlib
#   * <script>/<style> content is literal up to the stdlib's own close
#     pattern `</\s*tag\s*>` (CDATA_CONTENT_ELEMENTS semantics; charrefs
#     NOT converted inside, exactly like convert_charrefs with cdata_elem)
# Charrefs in data and attribute values go through the same html.unescape
# the stdlib applies (skipped when no '&' is present — identity).

import re as _re
from html import unescape as _unescape

# tag-name charset = stdlib tagfind_tolerant's; end-tag = stdlib endtagfind
# bare values must not BEGIN with '=' (the stdlib's '=+' folds 'a==b' into
# value 'b'; a leading '=' here would instead read value '=b' — excluding it
# forces the covered-span check below to fall back on that whole class)
# attribute NAMES must not begin with a quote: the stdlib reads a quote
# there as an unterminated VALUE spanning '>' (emitting the whole tag as
# text), while this grammar would read it as a name — input like
# '<b a= "x>t' must fall back to the stdlib rather than diverge
_FAST_START_RE = _re.compile(
    r"<([a-zA-Z][^\t\n\r\f />\x00]*)"
    r"((?:\s+(?!['\"])[^\s/=>]+(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|(?!['\"=])[^>\s]*))?)*)"
    r"\s*(/?)>"
)
_FAST_END_RE = _re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_FAST_ATTR_RE = _re.compile(
    r"\s+(?!['\"])([^\s/=>]+)(?:\s*=\s*(\"[^\"]*\"|'[^']*'|(?!['\"=])[^>\s]*))?"
)
_CDATA_CLOSE_RE = {
    "script": _re.compile(r"</\s*script\s*>", _re.I),
    "style": _re.compile(r"</\s*style\s*>", _re.I),
}


def _fast_feed(out, html: str) -> bool:
    """Tokenize ``html`` into ``out`` (any object with the HTMLParser
    handle_* callbacks); False = input left the strict domain (caller must
    discard ``out`` and use the stdlib parser)."""
    if "<!" in html or "<?" in html:
        return False
    pos, n = 0, len(html)
    find = html.find
    while pos < n:
        lt = find("<", pos)
        if lt == -1:
            chunk = html[pos:]
            out.handle_data(_unescape(chunk) if "&" in chunk else chunk)
            break
        if lt > pos:
            chunk = html[pos:lt]
            out.handle_data(_unescape(chunk) if "&" in chunk else chunk)
        if html.startswith("</", lt):
            m = _FAST_END_RE.match(html, lt)
            if m is None:
                return False
            out.handle_endtag(m.group(1).lower())
            pos = m.end()
            continue
        m = _FAST_START_RE.match(html, lt)
        if m is None:
            return False
        tag = m.group(1).lower()
        attrs_s = m.group(2)
        attrs: list[tuple[str, str | None]] = []
        if attrs_s:
            covered = 0
            for am in _FAST_ATTR_RE.finditer(attrs_s):
                if am.start() != covered:
                    return False
                covered = am.end()
                v = am.group(2)
                if v is not None:
                    if v[:1] in "\"'":
                        v = v[1:-1]
                    # stdlib unescapes only non-empty values
                    if v and "&" in v:
                        v = _unescape(v)
                attrs.append((am.group(1).lower(), v))
            if covered != len(attrs_s):
                return False
        if m.group(3):
            out.handle_startendtag(tag, attrs)
            pos = m.end()
            continue
        out.handle_starttag(tag, attrs)
        pos = m.end()
        if tag in _CDATA_CLOSE_RE:
            # literal content (no charref conversion) up to the stdlib's own
            # close pattern; EOF inside DROPS the rest (the stdlib's cdata
            # branch breaks without flushing, even on close()) and emits no
            # end event — both exactly the stdlib's cdata_elem behavior
            m2 = _CDATA_CLOSE_RE[tag].search(html, pos)
            if m2 is None:
                break
            if m2.start() > pos:
                out.handle_data(html[pos : m2.start()])
            out.handle_endtag(tag)
            pos = m2.end()
    return True


def parse_html(html: str | bytes) -> _Node:
    """Build a document tree. bytes are decoded as UTF-8 (the corpus invariant;
    the reference serves []byte to x/net/html which sniffs — our fixture HTML
    is always UTF-8, FIXTURES.md §1)."""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    tb = _TreeBuilder()
    if _fast_feed(tb, html):
        return tb.root
    return _stdlib_tree(html)


def _stdlib_tree(html: str) -> _Node:
    """Document tree from the stdlib tokenizer alone — the fallback for input
    outside the fast grammar, and the semantic reference the fast paths are
    tested against."""
    tb = _TreeBuilder()
    tb.feed(html)
    tb.close()
    return tb.root


def _remove_tags(node: _Node, tags: frozenset[str]) -> None:
    node.children = [
        c for c in node.children if not (isinstance(c, _Node) and c.tag in tags)
    ]
    for c in node.children:
        if isinstance(c, _Node):
            _remove_tags(c, tags)


def _find_all(node: _Node, tag: str, out: list[_Node]) -> None:
    for c in node.children:
        if isinstance(c, _Node):
            if c.tag == tag:
                out.append(c)
            _find_all(c, tag, out)


def _text_of(node: _Node, sb: list[str]) -> None:
    for c in node.children:
        if isinstance(c, _Node):
            _text_of(c, sb)
        else:
            sb.append(c)


def _body_nodes(root: _Node) -> list[_Node]:
    bodies: list[_Node] = []
    _find_all(root, "body", bodies)
    if bodies:
        return bodies
    # Fragment input: x/net/html auto-creates <body> holding all non-head
    # content. Emulate with a virtual body over non-head top-level nodes.
    virtual = _Node("body")
    def collect(n: _Node) -> None:
        for c in n.children:
            if isinstance(c, _Node):
                if c.tag in ("html",):
                    collect(c)
                elif c.tag not in _HEAD_ONLY_TAGS:
                    virtual.children.append(c)
            else:
                virtual.children.append(c)
    collect(root)
    return [virtual]


def extract_text(html: str | bytes) -> str:
    """Reference ExtractText (extractor.go:21-30), byte-for-byte.

    Unit vectors ported from extractor_test.go:19-75 in
    tests/test_extract.py.
    """
    return _tree_text(parse_html(html))


def _tree_text(root: _Node) -> str:
    """Per-body trimmed text of ``root`` after removing script/style/
    noscript/iframe subtrees (mutates ``root``)."""
    _remove_tags(root, _REMOVED_TAGS)
    out: list[str] = []
    for body in _body_nodes(root):
        sb: list[str] = []
        _text_of(body, sb)
        out.append("".join(sb).strip())
    return "".join(out)


def _stream_parse(html: str) -> tuple[list[list[str]], list[str]] | None:
    """``_fast_feed``'s tokenizer fused with a tree-free extractor in ONE
    loop — the mega-round parse kernel's hot path. All tokenizer+extractor
    state lives in locals (a callback-object pipeline dispatches ~4 Python
    calls per tag, the single largest cost of ``parse_page`` when profiled:
    1.5M calls / 4k pages). It computes what the tree path reads off a
    ``_TreeBuilder`` tree:

    * hrefs of every ``a`` in document order, from the pre-removal tree
      (the reference extracts links before ExtractText mutates,
      parser.go:140-144); first ``href`` per tag wins, a bare one reads "";
    * per-``body`` descendant text with script/style/noscript/iframe
      subtrees excluded; nested bodies each collect their own subtree's
      text (duplicated exactly as ``_find_all``'s recursion duplicates it),
      and a body inside a removed subtree never opens a buffer;
    * self-nesting closers, void elements and end tags (close up to the
      nearest matching open frame, stray ones ignored) follow
      ``_TreeBuilder`` exactly.

    Returns ``(bodies, hrefs)``, or None when the input leaves the strict
    fast domain — exactly when ``_fast_feed`` refuses. No ``body`` at all
    leaves ``bodies`` empty: the caller then needs the tree path's
    virtual-body construction. Equivalence with the stdlib tree path is
    pinned over the corpus, adversarial vectors and fuzz by
    tests/test_extract.py."""
    if "<!" in html or "<?" in html:
        return None
    stack: list[tuple[str, int, bool]] = []  # (tag, body_idx|-1, removed)
    bodies: list[list[str]] = []
    active: list[int] = []
    removed_depth = 0
    hrefs: list[str] = []
    pos, n = 0, len(html)
    find = html.find
    start_match = _FAST_START_RE.match
    end_match = _FAST_END_RE.match
    while pos < n:
        lt = find("<", pos)
        if lt == -1:
            if active and not removed_depth:
                chunk = html[pos:]
                if "&" in chunk:
                    chunk = _unescape(chunk)
                for bi in active:
                    bodies[bi].append(chunk)
            break
        if lt > pos and active and not removed_depth:
            chunk = html[pos:lt]
            if "&" in chunk:
                chunk = _unescape(chunk)
            for bi in active:
                bodies[bi].append(chunk)
        if html[lt + 1 : lt + 2] == "/":
            m = end_match(html, lt)
            if m is None:
                return None
            tag = m.group(1).lower()
            if stack and stack[-1][0] == tag:  # common case: top frame
                _t, b_idx, rm = stack.pop()
                if rm:
                    removed_depth -= 1
                if b_idx >= 0:
                    active.pop()
            else:
                # close up to the nearest matching frame (stray → ignored)
                for i in range(len(stack) - 1, -1, -1):
                    if stack[i][0] == tag:
                        while len(stack) > i:
                            _t, b_idx, rm = stack.pop()
                            if rm:
                                removed_depth -= 1
                            if b_idx >= 0:
                                active.pop()
                        break
            pos = m.end()
            continue
        m = start_match(html, lt)
        if m is None:
            return None
        tag, attrs_s, selfclose = m.group(1, 2, 3)
        tag = tag.lower()
        # attrs parsed (and span-validated) for <a> only — no other tag's
        # attributes are read; first href wins, None value → ""
        href = None
        have_href = False
        if tag == "a":
            if attrs_s:
                covered = 0
                for am in _FAST_ATTR_RE.finditer(attrs_s):
                    if am.start() != covered:
                        return None
                    covered = am.end()
                    if not have_href and am.group(1).lower() == "href":
                        v = am.group(2)
                        if v is None:
                            v = ""
                        else:
                            if v[:1] in "\"'":
                                v = v[1:-1]
                            if v and "&" in v:
                                v = _unescape(v)
                        href = v
                        have_href = True
                if covered != len(attrs_s):
                    return None
        pos = m.end()
        if selfclose:  # self-closing: no self-nesting pop, no stack frame
            if have_href:
                hrefs.append(href)
            if tag == "body" and not removed_depth:
                bodies.append([])  # empty body node: contributes ""
            continue
        if stack and stack[-1][0] == tag and tag in _SELF_NESTING_CLOSERS:
            _t, b_idx, rm = stack.pop()
            if rm:
                removed_depth -= 1
            if b_idx >= 0:
                active.pop()
        if have_href:
            hrefs.append(href)
        if tag in _VOID_ELEMENTS:
            continue
        if tag in _REMOVED_TAGS:
            close_re = _CDATA_CLOSE_RE.get(tag)
            if close_re is None:  # noscript / iframe: a normal removed frame
                removed_depth += 1
                stack.append((tag, -1, True))
                continue
            # script/style cdata: literal content ignored (the frame is
            # removed), the close pops the frame we'd have just pushed —
            # net: state unchanged. EOF inside drops the rest (stdlib cdata
            # branch breaks without flushing).
            m2 = close_re.search(html, pos)
            if m2 is None:
                break
            pos = m2.end()
            continue
        body_idx = -1
        if tag == "body" and not removed_depth:
            body_idx = len(bodies)
            bodies.append([])
            active.append(body_idx)
        stack.append((tag, body_idx, False))
    return bodies, hrefs


def parse_page(html: str | bytes, base_url: str) -> tuple[str, list[str] | None]:
    """One-pass parse stage: links then text off a SINGLE parse — the
    reference's exact flow (parser.go:131-144: goquery doc parsed once,
    ExtractURLs before ExtractText mutates it). Halves the per-page cost of
    the dominant pandas UDF vs parsing twice.

    Hot path: the fused streaming extractor above (no tree, no per-event
    dispatch) whenever the fast tokenizer accepts the page AND at least one
    ``body`` exists; anything else goes through ``_page_from_tree``."""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    sp = _stream_parse(html)
    if sp is not None and sp[0]:
        bodies, hrefs = sp
        return (
            "".join("".join(b).strip() for b in bodies),
            _process_hrefs(base_url, hrefs),
        )
    return _page_from_tree(parse_html(html), base_url)


def _page_from_tree(root: _Node, base_url: str) -> tuple[str, list[str] | None]:
    """``parse_page`` off a built tree (mutates ``root``): links first, then
    text. Tests call it on ``_stdlib_tree`` as the semantic reference."""
    links = _links_from_tree(root, base_url)
    return _tree_text(root), links


def _links_from_tree(root: _Node, base_url: str) -> list[str] | None:
    anchors: list[_Node] = []
    _find_all(root, "a", anchors)
    hrefs = []
    for a in anchors:
        h = a.attr("href")
        if h is not None:
            hrefs.append(h)
    return _process_hrefs(base_url, hrefs)


def _process_hrefs(base_url: str, hrefs: list[str]) -> list[str] | None:
    """ExtractURLs' per-href pipeline (extractor.go:36-74) over raw href
    strings in document order — shared by the tree and streaming paths.

    Same decisions as the original resolve→parse→canonicalize chain, but the
    base URL is parsed ONCE per page and each resolved URL ONCE per href
    (``canonicalize`` = parse + ``_canonicalize_parsed``; the scheme gate
    reads the same parse) — this chain parsed every kept URL 3× plus the
    base per href, the second-largest cost of ``parse_page`` after
    tokenization."""
    from .urlnorm import _canonicalize_parsed, resolve_with_parsed_base

    if parse_url(base_url) is None:
        return None
    seen: set[str] = set()
    urls: list[str] = []
    for href in hrefs:
        if href == "":
            continue
        href = href.strip()
        if href.startswith(("javascript:", "mailto:", "tel:", "#")):
            continue
        resolved = resolve_with_parsed_base(base_url, href)
        if resolved is None:
            continue
        rp = parse_url(resolved)
        if rp is None or rp.scheme not in ("http", "https"):
            continue
        normalized = _canonicalize_parsed(rp)
        if normalized in seen:
            continue
        seen.add(normalized)
        urls.append(normalized)
    return urls


def extract_links(html: str | bytes, base_url: str) -> list[str] | None:
    """Reference ExtractURLs (extractor.go:32-76).

    Returns None when the base URL fails Go-style parsing
    (extractor_test.go:124-128), else the ordered, deduped, canonicalized
    link list. Runs on the *unmutated* document — the reference extracts
    links before ExtractText removes elements (parser.go:140-144) — our
    extract_text works on its own tree so ordering between the two is free.
    """
    return _links_from_tree(parse_html(html), base_url)
