"""Pure-Python recovering HTML parser producing a minimal DOM.

Stand-in for ``lxml.etree.HTMLParser(recover=True, remove_comments=True,
remove_pis=True)`` as used by the reference blockifier
(``/root/reference/dragnet/blocks.pyx:845-847``).  The container ships no
lxml, so we re-derive the subset of libxml2 recovery semantics that the
reference's own unit vectors pin down
(``/root/reference/test/test_kohlschuetter.py``,
``/root/reference/test/test_blocks.py``):

* tag names lowercased; character/entity references decoded
* comments and processing instructions dropped
* fragments wrapped in ``html`` -> ``body`` (no ``head`` synthesized unless
  head-only tags appear -- the reference tagcount vectors require that no
  extra elements are invented)
* HTML5-ish implied end tags (``<p>`` closed by block-level start tags,
  ``<li>`` by ``<li>``, table-section autoclose, ...)
* void elements never take children
* ``<script>``/``<style>`` bodies kept as raw text of the node (they are
  blacklisted downstream but their *tails* matter)
* unparseable / empty input raises :class:`BlockifyError` like
  ``blocks.pyx:848-852``

Intentional divergence from libxml2 (documented in SURVEY.md §5): invalid
byte sequences are decoded with ``errors='replace'`` at ingest instead of
libxml2's parse-truncation quirk -- Spark strings are always valid UTF-8.

DOM depth is capped at :data:`MAX_DEPTH`; deeper start tags are attached as
childless nodes so the downstream recursive walk is stack-safe on adversarial
100TB-scale web input.
"""

from __future__ import annotations

from html.parser import HTMLParser


class BlockifyError(Exception):
    """Raised when a document cannot be parsed at all.

    Mirrors ``dragnet/blocks.pyx:148-152``.
    """


MAX_DEPTH = 400

#: HTML5 void elements -- may never contain children.
VOID_ELEMENTS = frozenset({
    'area', 'base', 'basefont', 'br', 'col', 'command', 'embed', 'frame',
    'hr', 'img', 'input', 'isindex', 'keygen', 'link', 'meta', 'param',
    'source', 'track', 'wbr',
})

#: start tags that implicitly close an open <p> (HTML5 §8.2.5.4.7).
_P_CLOSERS = frozenset({
    'address', 'article', 'aside', 'blockquote', 'center', 'details',
    'dialog', 'dir', 'div', 'dl', 'fieldset', 'figcaption', 'figure',
    'footer', 'form', 'h1', 'h2', 'h3', 'h4', 'h5', 'h6', 'header',
    'hgroup', 'hr', 'main', 'menu', 'nav', 'ol', 'p', 'pre', 'section',
    'table', 'ul', 'li', 'dd', 'dt',
})

#: AUTOCLOSE[open_tag] = set of start tags that implicitly close it.
AUTOCLOSE = {
    'p': _P_CLOSERS,
    'li': frozenset({'li'}),
    'dt': frozenset({'dt', 'dd'}),
    'dd': frozenset({'dt', 'dd'}),
    'tr': frozenset({'tr', 'thead', 'tbody', 'tfoot'}),
    'td': frozenset({'td', 'th', 'tr', 'thead', 'tbody', 'tfoot'}),
    'th': frozenset({'td', 'th', 'tr', 'thead', 'tbody', 'tfoot'}),
    'thead': frozenset({'tbody', 'tfoot'}),
    'tbody': frozenset({'tbody', 'tfoot'}),
    'tfoot': frozenset({'tbody'}),
    'option': frozenset({'option', 'optgroup'}),
    'optgroup': frozenset({'optgroup'}),
    'colgroup': frozenset({'thead', 'tbody', 'tfoot', 'tr'}),
    'head': frozenset({'body'}),
}

#: tags routed to a synthesized <head> when seen before body content.
_HEAD_ONLY = frozenset({'title', 'base'})

#: tags that may legitimately live inside <head>; any other start tag
#: (or non-whitespace text) implicitly closes an unterminated head and
#: starts body, matching libxml2 recovery (ADVICE r01).
_HEAD_CONTENT = frozenset({'title', 'base', 'meta', 'link', 'style',
                           'script', 'noscript', 'template'})


class Node:
    """One DOM element: tag, attributes, text, tail, ordered children."""

    __slots__ = ('tag', 'attrs', 'text', 'tail', 'children')

    def __init__(self, tag, attrs=None):
        self.tag = tag
        self.attrs = attrs or {}
        self.text = None
        self.tail = None
        self.children = []

    def __repr__(self):  # pragma: no cover - debug aid
        return '<Node %s children=%d>' % (self.tag, len(self.children))


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node('html')
        self.stack = [self.root]
        self.body = None
        self.head = None
        self.saw_root_tag = False   # explicit <html> seen
        self.saw_markup = False     # any explicit start tag
        self.saw_text = False       # any non-whitespace text

    # -- helpers ---------------------------------------------------------
    def _ensure_body(self):
        if self.body is None:
            self.body = Node('body')
            self.root.children.append(self.body)
            # body lives directly under root on the stack
            self.stack = [self.root, self.body]
        return self.body

    def _ensure_head(self):
        if self.head is None:
            self.head = Node('head')
            self.root.children.append(self.head)
        return self.head

    def _cur(self):
        return self.stack[-1]

    # -- HTMLParser callbacks (comments, doctypes and PIs keep its no-op
    # handlers: lxml's remove_comments=True / remove_pis=True) ----------
    def handle_starttag(self, tag, attrs):
        self.saw_markup = True
        if tag == 'html':
            # merge into the synthesized root
            self.saw_root_tag = True
            for k, v in attrs:
                self.root.attrs.setdefault(k, v if v is not None else '')
            return
        if self.body is None or tag == 'body':
            # set-up: route head content and open the (implicit) body;
            # once body is open, ordinary tags skip straight to the tail
            if self.body is not None:
                # stray duplicate <body>: ignore the tag itself
                return
            if self._cur() is self.root:
                if tag == 'head':
                    self.head = Node('head', _attr_dict(attrs))
                    self.root.children.append(self.head)
                    self.stack.append(self.head)
                    return
                if tag == 'body':
                    self.body = Node('body', _attr_dict(attrs))
                    self.root.children.append(self.body)
                    self.stack.append(self.body)
                    return
                if tag in _HEAD_ONLY or (tag in ('meta', 'link')
                                         and self.head is not None):
                    head = self._ensure_head()
                    node = Node(tag, _attr_dict(attrs))
                    head.children.append(node)
                    if tag not in VOID_ELEMENTS:
                        # title: capture its text without tracking a
                        # full stack
                        self.stack.append(node)
                    return
                self._ensure_body()
            if (self.body is None and self.head is not None
                    and self.head in self.stack and tag not in _HEAD_CONTENT):
                # flow content inside an unterminated <head>: implicit
                # </head> + start body, as libxml2 recovery does (ADVICE r01)
                del self.stack[1:]
                if tag == 'body':
                    self.body = Node('body', _attr_dict(attrs))
                    self.root.children.append(self.body)
                    self.stack.append(self.body)
                    return
                self._ensure_body()

        stack = self.stack
        while len(stack) > 1:  # pop the open elements this tag autocloses
            closers = AUTOCLOSE.get(stack[-1].tag)
            if closers is not None and tag in closers:
                stack.pop()
            else:
                break
        node = Node(tag, _attr_dict(attrs) if attrs else None)
        stack[-1].children.append(node)
        if tag not in VOID_ELEMENTS and len(stack) < MAX_DEPTH:
            stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)
        if tag not in VOID_ELEMENTS:
            self.handle_endtag(tag)

    def handle_endtag(self, tag):
        if tag in ('html', 'body') and tag != self._cur().tag:
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # unmatched end tag: ignored (recover=True)

    def handle_data(self, data):
        if not data:
            return
        cur = self.stack[-1]
        if (cur is self.root and self.body is None) or cur is self.head:
            if not data.strip():
                return  # whitespace between <html> and <body> is dropped
            if cur is self.head:
                # non-whitespace text in an unterminated <head>: implicit
                # </head>, text belongs to body (libxml2 recovery)
                del self.stack[1:]
            cur = self._ensure_body()
        if not self.saw_text:
            stripped = data.strip()
            if stripped and not stripped.startswith(('<', '!', '?')):
                # '<'/'!'/'?'-leading chunks are malformed-markup residue
                # (e.g. an unterminated comment emitted as data), which
                # libxml2 treats as no document; only matters when the
                # doc has no tags
                self.saw_text = True
        # text goes to the current node, or to its last child's tail
        children = cur.children
        if children:
            last = children[-1]
            last.tail = (last.tail or '') + data
        else:
            cur.text = (cur.text or '') + data


def _attr_dict(attrs):
    d = {}
    for k, v in attrs:
        if k not in d:
            d[k] = v if v is not None else ''
    return d


import re as _re
import _markupbase as _mb
import html.parser as _hp
from html import unescape as _unescape

# -- fast regex scanner --------------------------------------------------
# A faithful single-pass transcription of CPython html.parser's
# goahead(end=1)/parse_starttag/parse_endtag/... using the module's own
# tolerant regexes, dispatching into the same _TreeBuilder.  Dropping the
# incremental-feed bookkeeping (updatepos line counting, buffer-boundary
# handling) is the speedup; the event stream is byte-identical, which the
# hypothesis fuzz test (fast vs stdlib parser) enforces.

_CDATA_CLOSE = {
    'script': _re.compile(r'</\s*script', _re.IGNORECASE),
    'style': _re.compile(r'</\s*style', _re.IGNORECASE),
}
_FAST_ATTR = _re.compile(
    r'\s+([a-zA-Z_][-a-zA-Z0-9_:.]*)'
    r'(?:\s*=\s*(?:"([^"<>&]*)"|\'([^\'<>&]*)\'))?')
# fast path, ONE match attempt per tag: a plain end tag, or a
# fully-quoted well-formed start tag -- plain tag name, attrs either
# valueless or quoted with no quote/&/<> inside (values needing
# unescaping or tolerant recovery fall through to the full machinery).
# On everything it matches, the event stream is identical to
# _parse_starttag -- enforced by the fast-vs-stdlib fuzz test.
_FAST_EVENT = _re.compile(
    r'</([a-zA-Z][a-zA-Z0-9]*)\s*>'
    r'|<([a-zA-Z][a-zA-Z0-9]*)'
    r'((?:\s+[a-zA-Z_][-a-zA-Z0-9_:.]*'
    r'(?:\s*=\s*(?:"[^"<>&]*"|\'[^\'<>&]*\'))?)*)'
    r'\s*(/?)>')
_MARKEDSECTIONCLOSE = _re.compile(r']\s*]\s*>')
_MSMARKEDSECTIONCLOSE = _re.compile(r']\s*>')


def _parse_starttag(b, rawdata, i, cdata):
    """parser.py:288-333 + check_for_whole_start_tag (parser.py:337-375).

    Returns (endpos, new_cdata_elem) or (-1, cdata) when incomplete."""
    n = len(rawdata)
    m = _hp.locatestarttagend_tolerant.match(rawdata, i)
    j = m.end()
    nxt = rawdata[j:j + 1]
    if nxt == '>':
        endpos = j + 1
    elif nxt == '/':
        if rawdata.startswith('/>', j):
            endpos = j + 2
        else:
            return -1, cdata
    elif nxt == '':
        return -1, cdata
    elif nxt in ('abcdefghijklmnopqrstuvwxyz=/'
                 'ABCDEFGHIJKLMNOPQRSTUVWXYZ'):
        return -1, cdata
    else:
        endpos = j if j > i else i + 1

    attrs = []
    tm = _hp.tagfind_tolerant.match(rawdata, i + 1)
    k = tm.end()
    tag = tm.group(1).lower()
    while k < endpos:
        am = _hp.attrfind_tolerant.match(rawdata, k)
        if not am:
            break
        attrname, rest, attrvalue = am.group(1, 2, 3)
        if not rest:
            attrvalue = None
        elif attrvalue[:1] == "'" == attrvalue[-1:] or \
                attrvalue[:1] == '"' == attrvalue[-1:]:
            attrvalue = attrvalue[1:-1]
        if attrvalue:
            attrvalue = _unescape(attrvalue)
        attrs.append((attrname.lower(), attrvalue))
        k = am.end()

    end = rawdata[k:endpos].strip()
    if end not in ('>', '/>'):
        b.handle_data(rawdata[i:endpos])
        return endpos, cdata
    if end.endswith('/>'):
        b.handle_startendtag(tag, attrs)
    else:
        b.handle_starttag(tag, attrs)
        if tag in ('script', 'style'):
            cdata = tag
    return endpos, cdata


def _parse_bogus_comment(rawdata, i):
    pos = rawdata.find('>', i + 2)
    return -1 if pos == -1 else pos + 1


def _parse_endtag(b, rawdata, i, cdata):
    """parser.py:377-415. Returns (endpos, new_cdata)."""
    m = _hp.endendtag.search(rawdata, i + 1)
    if not m:
        return -1, cdata
    gtpos = m.end()
    m = _hp.endtagfind.match(rawdata, i)
    if not m:
        if cdata is not None:
            b.handle_data(rawdata[i:gtpos])
            return gtpos, cdata
        nm = _hp.tagfind_tolerant.match(rawdata, i + 2)
        if not nm:
            if rawdata[i:i + 3] == '</>':
                return i + 3, cdata
            return _parse_bogus_comment(rawdata, i), cdata
        tagname = nm.group(1).lower()
        gtpos = rawdata.find('>', nm.end())
        b.handle_endtag(tagname)
        return gtpos + 1, cdata
    elem = m.group(1).lower()
    if cdata is not None:
        if elem != cdata:
            b.handle_data(rawdata[i:gtpos])
            return gtpos, cdata
        cdata = None
    b.handle_endtag(elem)
    return gtpos, cdata


def _parse_marked_section(rawdata, i):
    """_markupbase.parse_marked_section (report path drops content)."""
    nm = _mb._declname_match(rawdata, i + 3)
    if not nm:
        raise BlockifyError('malformed marked section')
    name = nm.group().strip().lower()
    if name in ('temp', 'cdata', 'ignore', 'include', 'rcdata'):
        match = _MARKEDSECTIONCLOSE.search(rawdata, i + 3)
    elif name in ('if', 'else', 'endif'):
        match = _MSMARKEDSECTIONCLOSE.search(rawdata, i + 3)
    else:
        raise BlockifyError('unknown status keyword %r' % name)
    return match.end() if match else -1


def _parse_html_declaration(rawdata, i):
    """parser.py:259-278 (decls are dropped)."""
    if rawdata[i:i + 3] == '<![':
        return _parse_marked_section(rawdata, i)
    if rawdata[i:i + 9].lower() == '<!doctype':
        gtpos = rawdata.find('>', i + 9)
        return -1 if gtpos == -1 else gtpos + 1
    return _parse_bogus_comment(rawdata, i)


def _scan_into(b, rawdata):
    """goahead(end=1) transcription; comments/PIs/decls dropped."""
    i = 0
    n = len(rawdata)
    cdata = None
    find = rawdata.find
    fast_event = _FAST_EVENT.match
    handle_data = b.handle_data
    handle_starttag = b.handle_starttag
    handle_endtag = b.handle_endtag
    while i < n:
        if cdata is None:
            j = find('<', i)
            if j < 0:
                j = n
        else:
            m = _CDATA_CLOSE[cdata].search(rawdata, i)
            if m:
                j = m.start()
            else:
                break  # unterminated raw text dropped (goahead end-block
                       # skips cdata remains)
        if i < j:
            seg = rawdata[i:j]
            if cdata is None and '&' in seg:
                seg = _unescape(seg)
            handle_data(seg)
        i = j
        if i == n:
            break
        # fast path: ONE regex attempt per tag in the common case
        # (well-formed start tag, or simple end tag); anything needing
        # unescaping or tolerant recovery falls through to the full
        # machinery.  Event-stream equality is fuzz-enforced.
        if cdata is None:
            fm = fast_event(rawdata, i)
            if fm is not None:
                end_name, tag, raw_attrs, selfclose = fm.groups()
                if end_name is not None:
                    handle_endtag(end_name.lower())
                    i = fm.end()
                    continue
                tag = tag.lower()
                attrs = []
                if raw_attrs:
                    for am in _FAST_ATTR.finditer(raw_attrs):
                        name, v1, v2 = am.groups()
                        attrs.append(
                            (name.lower(), v1 if v1 is not None else v2))
                if selfclose:
                    b.handle_startendtag(tag, attrs)
                else:
                    handle_starttag(tag, attrs)
                    if tag in ('script', 'style'):
                        cdata = tag
                i = fm.end()
                continue
        if _hp.starttagopen.match(rawdata, i) and cdata is None:
            k, cdata = _parse_starttag(b, rawdata, i, cdata)
        elif rawdata.startswith('</', i):
            k, cdata = _parse_endtag(b, rawdata, i, cdata)
        elif rawdata.startswith('<!--', i):
            cm = _hp.commentclose.search(rawdata, i + 4)
            k = cm.end() if cm else -1
        elif rawdata.startswith('<?', i):
            pm = _hp.piclose.search(rawdata, i + 2)
            k = pm.end() if pm else -1
        elif rawdata.startswith('<!', i):
            k = _parse_html_declaration(rawdata, i)
        else:
            b.handle_data('<')
            k = i + 1
        if k < 0:
            # incomplete construct at EOF: emit through next '>' (or '<',
            # or one char) as data -- goahead's end=1 recovery
            k = rawdata.find('>', i + 1)
            if k < 0:
                k = rawdata.find('<', i + 1)
                if k < 0:
                    k = i + 1
            else:
                k += 1
            if cdata is None:
                b.handle_data(_unescape(rawdata[i:k]))
            else:
                b.handle_data(rawdata[i:k])
        i = k


def parse_html(text, fast=True):
    """Parse an HTML string into a :class:`Node` tree rooted at ``html``.

    Raises :class:`BlockifyError` for input that libxml2 would fail on
    (empty document / comment-only document -> ``etree.fromstring`` returns
    None or raises, ``blocks.pyx:848-852``).
    """
    builder = _TreeBuilder()
    try:
        if fast:
            _scan_into(builder, text)
        else:
            builder.feed(text)
            builder.close()
    except Exception as exc:  # parsers are lenient; belt and braces
        raise BlockifyError('Could not blockify HTML: %s' % exc) from exc
    if not builder.saw_markup and not builder.saw_text:
        raise BlockifyError('Could not blockify HTML')
    return builder.root
