"""Blockifier: DOM -> ordered Block sequence.

Pure-Python/NumPy re-derivation (NOT a port) of the reference Cython
blockifier ``/root/reference/dragnet/blocks.pyx``.  Semantics are pinned by
the reference's own unit vectors (``test/test_kohlschuetter.py``,
``test/test_blocks.py``) which we carry as pytest cases.

Key reference semantics reproduced here:

* block boundaries: tags in :data:`BLOCKS` start a new block
  (``blocks.pyx:628-639``); tags in :data:`BLACKLIST` are skipped except
  their tail text (``blocks.pyx:622-626``); ``<a>`` subtrees are inlined
  into both block text and link tokens (``add_anchor``,
  ``blocks.pyx:485-515``); all other tags are transparent
  (``blocks.pyx:647-654``)
* whitespace tokenization on exactly ``' \\t\\n\\r\\f\\v'``
  (``_tokens_from_text``, ``blocks.pyx:106-133``); block text is the
  single-space join of tokens (``blocks.pyx:432``)
* link/text densities computed over UTF-8 *bytes* with the byte-level
  ``[\\W_]+`` splitter that keeps empty strings (``blocks.pyx:435-447``)
* tagcount state machine (``TagCountPB``, ``blocks.pyx:693-774``)
* readability bookkeeping: preorder tag ids (entering a subtree with
  children burns one id before the first child, ``blocks.pyx:601-614``),
  ancestors written at the *previous* block boundary
  (``reinit_readability``, ``blocks.pyx:578-579``), once-only class
  weights (``readability_score_node``, ``blocks.pyx:537-576``)
* blocks kept by ``add_block`` when they have any non-whitespace token;
  final output filtered to blocks containing a word character
  (``RE_TEXT``, ``blocks.pyx:40,860``) -- the two filters differ, and
  punctuation-only blocks consume readability class weights (reference
  behavior, reproduced)
"""

from __future__ import annotations

import codecs
import math
import re

from .htmlparse import BlockifyError, Node, parse_html

__all__ = [
    'Block', 'BlockifyError', 'blockify', 'guess_encoding',
    'simple_tokenizer', 'BLOCKS', 'BLACKLIST',
]

# -- constants (blocks.pyx:34-103) ---------------------------------------

RE_HTML_ENCODING = re.compile(
    br'<\s*meta[^>]+charset\s*?=\s*?[\'"]?([^>]*?)[ /;\'">]', flags=re.IGNORECASE)
RE_XML_ENCODING = re.compile(
    br'^<\?.*?encoding\s*?=\s*?[\'"](.*?)[\'"].*?\?>', flags=re.IGNORECASE)
RE_TEXT = re.compile(r'[^\W_]+', flags=re.UNICODE)
re_tokenizer = re.compile(r'[\W_]+', re.UNICODE)
re_tokenizer_bytes = re.compile(br'[\W_]+')

BLACKLIST = frozenset({
    'applet', 'area', 'base', 'basefont', 'bdo', 'button',
    'caption', 'fieldset', 'fram', 'frameset',
    'iframe', 'img', 'input', 'legend', 'link', 'menu', 'meta',
    'noframes', 'noscript', 'object', 'optgroup', 'option', 'param',
    'script', 'select', 'style', 'textarea', 'var', 'xmp',
    'like', 'like-box', 'plusone',
    'svg', 'math',
})

BLOCKS = frozenset({'h1', 'h2', 'h3', 'h4', 'h5', 'h6', 'p', 'div', 'table', 'map'})

re_readability_negative = re.compile(
    'combx|comment|com-|contact|foot|footer|footnote|masthead|media|meta'
    '|outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping'
    '|tags|tool|widget', re.I)
re_readability_positive = re.compile(
    'article|body|content|entry|hentry|main|page|pagination|post|text'
    '|blog|story', re.I)

READABILITY_PLUS3 = frozenset({'pre', 'td', 'blockquote'})
READABILITY_MINUS3 = frozenset({'address', 'ol', 'ul', 'dl', 'dd', 'dt', 'li', 'form'})
READABILITY_MINUS5 = frozenset({'h1', 'h2', 'h3', 'h4', 'h5', 'h6', 'th'})

_WS_SPLIT = re.compile(r'[ \t\n\r\f\v]+')
_CSS_ATTRIBS = ('id', 'class')


def simple_tokenizer(x):
    """``[\\W_]+`` unicode split dropping empties (blocks.pyx:45-46)."""
    return [ele for ele in re_tokenizer.split(x) if len(ele) > 0]


def _tokens_from_text(fragments):
    """Split each text fragment on the reference's 6 whitespace chars
    (blocks.pyx:106-133); UTF-8 multibyte chars never contain those bytes,
    so the str-level split is byte-exact.  Joining the fragments with a
    space first is equivalent (the separator is itself a split char and
    empties are dropped) and runs one regex pass instead of N."""
    if not fragments:
        return []
    return [t for t in _WS_SPLIT.split(' '.join(fragments)) if t]


def sniff_encoding_heuristic(markup: bytes) -> str:
    """chardet-equivalent statistical fallback (the reference's
    ``default='CHARDET'`` path, ``blocks.pyx:790-793``; chardet itself is
    not in this container): BOM detection, UTF-16 null-byte striping,
    strict UTF-8 validity over the head, else cp1252 vs latin-1 by
    C1-range byte presence."""
    if markup.startswith(codecs.BOM_UTF32_LE) or \
            markup.startswith(codecs.BOM_UTF32_BE):
        return 'utf-32'
    if markup.startswith(codecs.BOM_UTF8):
        return 'utf-8-sig'
    if markup.startswith(codecs.BOM_UTF16_LE) or \
            markup.startswith(codecs.BOM_UTF16_BE):
        return 'utf-16'
    head = markup[:4096]
    if len(head) >= 16:
        even_nulls = head[0::2].count(0)
        odd_nulls = head[1::2].count(0)
        half = len(head) // 2
        if odd_nulls > half // 2 and even_nulls < half // 20:
            return 'utf-16-le'
        if even_nulls > half // 2 and odd_nulls < half // 20:
            return 'utf-16-be'
    try:
        head.decode('utf-8')
        return 'utf-8'
    except UnicodeDecodeError as e:
        # an error at the truncation boundary is a split multibyte char,
        # not evidence against utf-8 (only when the head WAS truncated)
        if len(markup) > len(head) and e.start >= len(head) - 4:
            return 'utf-8'
    if any(0x80 <= b <= 0x9F for b in head):
        return 'cp1252'
    return 'iso-8859-1'


def guess_encoding(markup: bytes, default='utf-8'):
    """Sniff encoding from XML decl (first 1 KiB) then meta charset
    (first max(2 KiB, 5% len)); blocks.pyx:777-795.  ``default='CHARDET'``
    invokes the statistical sniffer (the reference imports chardet here;
    :func:`sniff_encoding_heuristic` is the in-container equivalent)."""
    xml_endpos = 1024
    html_endpos = max(2048, int(len(markup) * 0.05))
    mo = RE_XML_ENCODING.search(markup, endpos=xml_endpos)
    if mo:
        return mo.group(1)
    moh = RE_HTML_ENCODING.search(markup, endpos=html_endpos)
    if moh:
        return moh.group(1)
    if isinstance(default, str) and default.lower() == 'chardet':
        return sniff_encoding_heuristic(markup)
    return default


#: a char that only appears as the *first* byte of a multibyte UTF-8
#: sequence mis-decoded as latin-1/cp1252, followed by a char from the
#: continuation-byte range (latin-1 view) or its cp1252 remapping.
_MOJIBAKE_HINT = re.compile(
    '[\u00c2-\u00f4]'   # UTF-8 lead byte 0xC2-0xF4 mis-decoded as latin-1
    '[\u0080-\u00bf'    # continuation byte 0x80-0xBF, latin-1 view ...
    # ... or its cp1252 remapping (0x80-0x9F -> punctuation/symbols)
    '\u20ac\u201a\u0192\u201e\u2026\u2020\u2021\u02c6\u2030\u0160'
    '\u2039\u0152\u017d\u2018\u2019\u201c\u201d\u2022\u2013\u2014'
    '\u02dc\u2122\u0161\u203a\u0153\u017e\u0178]')


#: cp1252 remappings of the 0x80-0x9F byte range (the C1 chars that
#: render as punctuation/symbols when utf-8 is mis-decoded as cp1252)
_CP1252_MOJIBAKE_CHARS = frozenset(
    '€‚ƒ„…†‡ˆ‰Š'
    '‹ŒŽ‘’“”•–—'
    '˜™š›œžŸ')

_ENTITY_RE = re.compile(
    r'&(?:#\d{2,7}|#[xX][0-9a-fA-F]{2,6}|[a-zA-Z][a-zA-Z0-9]{1,30});')


def _sloppy_c1_handler(exc):
    """cp1252 encode fallback for the five bytes cp1252 leaves undefined
    (0x81 8D 8F 90 9D): mojibake produced by cp1252-with-latin-1-fallback
    decoders carries them as raw C1 controls (ftfy's 'sloppy-windows-1252'
    codec exists for exactly this).  Anything else stays an error."""
    reps = bytes(ord(c) for c in exc.object[exc.start:exc.end]
                 if 0x80 <= ord(c) <= 0x9f)
    if len(reps) != exc.end - exc.start:
        raise exc
    return reps, exc.end


codecs.register_error('dragnet_sloppy_c1', _sloppy_c1_handler)


def _roundtrip_utf8(s: str):
    """One latin-1/cp1252 -> utf-8 repair pass, or None if the string
    does not wholly round-trip."""
    for enc, errors in (('cp1252', 'dragnet_sloppy_c1'),
                        ('iso-8859-1', 'strict')):
        try:
            return s.encode(enc, errors).decode('utf-8')
        except (UnicodeEncodeError, UnicodeDecodeError):
            continue
    return None


def _unescape_mojibake_entities(s: str) -> str:
    """Decode ONLY the character references that resolve to a single
    suspicious high-byte char (0x80-0xFF as latin-1, or a cp1252 C1
    remapping) -- i.e. entities that are themselves mojibake fragments
    ('&Atilde;&copy;' for an e-acute).  Structural entities
    (&lt; &amp; ...) and genuine text entities (&eacute; in otherwise
    clean text) are left untouched."""
    import html as _html

    def sub(m):
        d = _html.unescape(m.group(0))
        if len(d) == 1 and (0x80 <= ord(d) <= 0xff
                            or d in _CP1252_MOJIBAKE_CHARS):
            return d
        return m.group(0)

    return _ENTITY_RE.sub(sub, s)


def fix_mojibake(s: str) -> str:
    """Repair UTF-8 bytes that were decoded as latin-1/cp1252 -- the
    dominant ``ftfy.fix_encoding`` cases the reference applies at
    ``data_processing.py:242,267`` (ftfy itself is not in this
    container), including the r02-deferred tails (VERDICT r02 #8):

    * double-encoding chains: text that went through the utf-8-as-latin-1
      round trip TWICE repairs iteratively to a fixpoint (capped at 3
      passes);
    * entity mixes: mojibake whose high bytes were entity-escaped along
      the way ('&Atilde;&copy;', '&acirc;&#128;&#156;') is repaired by
      decoding only those suspicious references, then round-tripping.

    Conservative: a pass only rewrites when the WHOLE string re-decodes
    as utf-8 -- genuine latin-1 text (a lone e-acute) fails the re-decode
    and is returned untouched; ASCII never matches the hint; structural
    entities are never unescaped (the entity path additionally requires
    the substituted string to carry the mojibake hint AND round-trip,
    else the original is returned verbatim)."""
    for _ in range(3):
        # substitute suspicious entities FIRST so literal + entity-escaped
        # mojibake in one string repairs in the same whole-string pass
        cand = (_unescape_mojibake_entities(s)
                if _ENTITY_RE.search(s) else s)
        if _MOJIBAKE_HINT.search(cand):
            fixed = _roundtrip_utf8(cand)
            if fixed is not None and fixed != s:
                s = fixed
                continue
        if cand != s and _MOJIBAKE_HINT.search(s):
            # combined round-trip failed (the entities were genuine
            # text): repair the literal mojibake only
            fixed = _roundtrip_utf8(s)
            if fixed is not None and fixed != s:
                s = fixed
                continue
        break
    return s


def decode_html(markup: bytes, encoding=None) -> str:
    """Bytes -> str using sniffed encoding with a repair cascade +
    mojibake (double-encoding) repair.

    Replaces the reference's libxml2-internal decoding and its
    ``ftfy.fix_encoding`` call; invalid bytes are replaced rather than
    truncating the parse (documented divergence)."""
    enc = encoding or guess_encoding(markup)
    if isinstance(enc, bytes):
        enc = enc.decode('ascii', 'replace')
    for candidate in (enc, 'utf-8', 'iso-8859-1'):
        try:
            codecs.lookup(candidate)
        except (LookupError, TypeError):
            continue
        try:
            return fix_mojibake(markup.decode(candidate))
        except (UnicodeDecodeError, UnicodeError):
            continue
    return fix_mojibake(markup.decode('utf-8', 'replace'))


class Block:
    """One ordered text block (blocks.pyx:136-145).

    ``n_bytes`` caches the UTF-8 byte length of ``text`` (the blockifier
    already encodes it for the densities; weninger CETR and readability
    both need it again -- re-encoding every block was ~8% of kernel
    time)."""

    __slots__ = ('text', 'link_density', 'text_density', 'link_tokens',
                 'css', 'features', 'n_bytes')

    def __init__(self, text, link_density, text_density, link_tokens, css,
                 features, n_bytes=None):
        self.text = text
        self.link_density = link_density
        self.text_density = text_density
        self.link_tokens = link_tokens
        self.css = css
        self.features = features
        self.n_bytes = (n_bytes if n_bytes is not None
                        else len(text.encode('utf-8')))

    def __repr__(self):  # pragma: no cover - debug aid
        return '<Block %r>' % (self.text[:40],)


class _Walker:
    """State machine equivalent of PartialBlock/TagCountPB."""

    def __init__(self, do_tagcount, do_css, do_readability, tag_id_base=0):
        self.do_tagcount = do_tagcount
        self.do_css = do_css
        self.do_readability = do_readability
        self.results = []
        # partial block accumulators
        self.text = []
        self.link_tokens = []
        self.css = {a: [] for a in _CSS_ATTRIBS}
        self.block_start_tag = ''
        # readability (blocks.pyx:307-324)
        self.tag_id = tag_id_base
        self.next_tag_id = tag_id_base + 1
        self.ancestors = []
        self.ancestors_write = []
        self.class_weights_written = set()
        self.class_weights = []
        # tagcount (blocks.pyx:714-732)
        self._tc = 1
        self._ac = 0
        self._tc_lb = 0
        self._depth = 0
        self._min_depth_lb = 0
        self._min_depth_pending = 0

    # -- feature hooks (subtree enter/exit inlined in recurse) ---------------
    def _tag_fe(self, tag):
        if self.do_tagcount:
            self._tc += 1
            if tag == 'a':
                self._ac += 1
            if tag not in BLOCKS:
                self._min_depth_lb = self._min_depth_pending

    _attr_weight_memo = {}

    def _score_node(self, node):
        # readability_score_node, blocks.pyx:537-576
        if self.tag_id in self.class_weights_written:
            return
        weight = 0
        attrs = node.attrs
        if attrs:
            memo = _Walker._attr_weight_memo
            for attrib in _CSS_ATTRIBS:
                val = attrs.get(attrib)
                if val is not None:
                    # template id/class values repeat across every doc of
                    # a host: memoize the two regex verdicts per value
                    w = memo.get(val)
                    if w is None:
                        w = 0
                        if re_readability_negative.search(val):
                            w -= 25
                        if re_readability_positive.search(val):
                            w += 25
                        if len(memo) < 50000:
                            memo[val] = w
                    weight += w
        tag = node.tag
        if tag == 'div':
            weight += 5
        elif tag in READABILITY_PLUS3:
            weight += 5
        elif tag in READABILITY_MINUS3:
            weight -= 3
        elif tag in READABILITY_MINUS5:
            weight -= 5
        self.class_weights.append((self.tag_id, weight))
        self.class_weights_written.add(self.tag_id)

    # -- block emission ------------------------------------------------------
    def _tagcount_features(self, append):
        # TagCountPB.tagcount, blocks.pyx:742-765
        if append:
            ret = {
                'tagcount_since_last_block': self._tc_lb,
                'tagcount': self._tc - 1,
                'anchor_count': self._ac,
                'min_depth_since_last_block': self._min_depth_lb,
            }
            self._tc_lb = 0
            self._tc = 1
            self._ac = 0
            self._min_depth_pending = self._depth
            self._min_depth_lb = self._depth
            return ret
        self._tc_lb += self._tc - 1
        self._tc = 1
        self._ac = 0
        return None

    def add_block(self):
        # add_block_to_results, blocks.pyx:422-467
        block_tokens = _tokens_from_text(self.text)
        if block_tokens:
            block_text = ' '.join(block_tokens)
            link_text = ' '.join(self.link_tokens)
            btext_b = block_text.encode('utf-8')
            at = re_tokenizer_bytes.split(link_text.encode('utf-8'))
            bt = re_tokenizer_bytes.split(btext_b)
            link_d = float(len(at)) / len(bt)
            lines = int(math.ceil(len(btext_b) / 80.0))
            if lines == 1:
                text_d = float(len(bt))
            else:
                tokens = re_tokenizer_bytes.split(btext_b[:(lines - 1) * 80])
                text_d = len(tokens) / (lines - 1.0)
            css = None
            if self.do_css:
                css = {
                    a: ' '.join(_tokens_from_text(self.css[a])).lower()
                    for a in _CSS_ATTRIBS
                }
            features = {}
            if self.do_readability:
                features['ancestors'] = list(self.ancestors_write)
                features['readability_class_weights'] = list(self.class_weights)
                self.class_weights = []
            if self.do_tagcount:
                features.update(self._tagcount_features(True))
            features['block_start_tag'] = self.block_start_tag
            self.results.append(Block(
                block_text, link_d, text_d, list(self.link_tokens),
                css or {}, features, n_bytes=len(btext_b)))
        else:
            if self.do_tagcount:
                self._tagcount_features(False)
        # reinit (blocks.pyx:363-367,466-468); text must keep its
        # identity -- recurse() holds a bound .append to it
        self.text.clear()
        self.link_tokens = []
        if self.do_readability:
            self.ancestors_write = list(self.ancestors)
        if self.do_css:
            self.css = {a: [] for a in _CSS_ATTRIBS}

    # -- DOM traversal ------------------------------------------------------
    def _update_css(self, node):
        for attrib in _CSS_ATTRIBS:
            val = node.attrs.get(attrib)
            if val is not None:
                self.css[attrib].append(val)

    def _anchor_text(self, node, tail, out):
        # _text_from_subtree, blocks.pyx:155-216
        if node.text is not None:
            out.append(node.text)
        for child in node.children:
            self._tag_fe(child.tag)
            if child.tag not in BLACKLIST:
                self._anchor_text(child, True, out)
            elif child.tail is not None:
                out.append(child.tail)
        if tail and node.tail is not None:
            out.append(node.tail)

    def _add_anchor(self, node):
        # add_anchor, blocks.pyx:485-515
        anchor_text = []
        self._anchor_text(node, False, anchor_text)
        self.text.extend(anchor_text)
        if node.tail is not None:
            self.text.append(node.tail)
        self.link_tokens.extend(_tokens_from_text(anchor_text))

    def _enter(self, subtree):
        # blocks.pyx _subtree_fe(1)
        if self.do_readability:
            self.ancestors.append(self.tag_id)
            self._score_node(subtree)
        if self.do_tagcount:
            self._depth += 1
            if self._depth < self._min_depth_pending:
                self._min_depth_pending = self._depth
        if subtree.children:
            self.tag_id = self.next_tag_id
            self.next_tag_id += 1

    def recurse(self, subtree):
        """blocks.pyx:581-662, iterative (explicit frame stack).

        Same event order as the recursive form (pinned by the golden
        vectors + 222/222 readability golden): no Python recursion-limit
        coupling and ~25% fewer function calls on the hot path."""
        do_css = self.do_css
        do_r = self.do_readability
        do_t = self.do_tagcount
        ancestors = self.ancestors
        text_acc = self.text
        text_append = text_acc.append
        self._enter(subtree)
        frames = [(subtree, iter(subtree.children))]
        push = frames.append
        while frames:
            node, it = frames[-1]
            descended = False
            for child in it:
                self.tag_id = self.next_tag_id
                self.next_tag_id += 1
                tag = child.tag
                # _tag_fe, inlined (hot path)
                if do_t:
                    self._tc += 1
                    if tag == 'a':
                        self._ac += 1
                    if tag not in BLOCKS:
                        self._min_depth_lb = self._min_depth_pending
                if tag in BLACKLIST:
                    t = child.tail
                    if t is not None:
                        text_append(t)
                elif tag == 'a':
                    self._add_anchor(child)
                    if do_css:
                        self._update_css(child)
                else:
                    if tag in BLOCKS:
                        self.add_block()
                        self.block_start_tag = tag
                    t = child.text
                    if t is not None:
                        text_append(t)
                    if do_css:
                        self._update_css(child)
                    # _enter(child), inlined
                    if do_r:
                        ancestors.append(self.tag_id)
                        self._score_node(child)
                    if do_t:
                        d = self._depth + 1
                        self._depth = d
                        if d < self._min_depth_pending:
                            self._min_depth_pending = d
                    if child.children:
                        self.tag_id = self.next_tag_id
                        self.next_tag_id += 1
                    push((child, iter(child.children)))
                    descended = True
                    break
            if not descended:
                frames.pop()
                # leave the subtree: blocks.pyx _subtree_fe(-1)
                if do_r:
                    self.tag_id = ancestors[-1]
                    ancestors.pop()
                if do_t:
                    d = self._depth - 1
                    self._depth = d
                    if d < self._min_depth_pending:
                        self._min_depth_pending = d
                if frames:
                    # back in the parent's context: the completed
                    # child's tail (the recursive form's post-call line)
                    t = node.tail
                    if t is not None:
                        text_append(t)


def blocks_from_tree(tree: Node, do_tagcount=True, do_css=False,
                     do_readability=True, tag_id_base=0):
    """Walk a parsed tree; return (all blocks incl. wordless, next_tag_id)."""
    walker = _Walker(do_tagcount, do_css, do_readability, tag_id_base)
    walker.recurse(tree)
    walker.add_block()
    return walker.results, walker.next_tag_id


def blockify(html, encoding=None, do_tagcount=True, do_css=False,
             do_readability=True, tag_id_base=0, return_next_tag_id=False):
    """HTML (str or bytes) -> ordered list of :class:`Block`.

    Default flags match the reference's shipped default blockifier
    ``TagCountNoCSSReadabilityBlockifier`` (extractor.py:40,
    blocks.pyx:884-889).  Raises :class:`BlockifyError` on unparseable
    input.  ``tag_id_base`` offsets readability tag ids so multiple runs
    of one document (media-split spans) share a tag-id namespace.
    """
    if isinstance(html, bytes):
        html = decode_html(html, encoding)
    tree = parse_html(html)
    all_blocks, next_id = blocks_from_tree(
        tree, do_tagcount, do_css, do_readability, tag_id_base)
    kept = [b for b in all_blocks if RE_TEXT.search(b.text)]
    if return_next_tag_id:
        return kept, next_id
    return kept
