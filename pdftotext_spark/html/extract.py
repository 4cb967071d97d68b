"""HTML main-content extraction via DOM text/link-density heuristics.

This branch is **new work mandated by the graft spec** (BASELINE.json
``north_rule``): the reference library contains no HTML code
(SURVEY.md §2.10). The heuristics follow the published
boilerplate-removal literature (Boilerpipe's shallow-text-features —
Kohlschütter et al., WSDM 2010 — and Readability-style link density):

1. drop non-content subtrees outright (``script style noscript svg
   nav header footer aside form iframe template``);
2. segment the remaining markup into *blocks* at block-level tags;
3. score each block: word count, link density (chars inside ``<a>`` /
   total chars), stopword-ish density via average word length;
4. keep blocks classified as content; join with newlines.

Pure stdlib (regex tokenizer — the container has no lxml/bs4), fully
deterministic, versioned by ``HEURISTICS_VERSION``.
"""

from __future__ import annotations

import html as _html
import re

HEURISTICS_VERSION = 2

_DROP_SUBTREE_TAGS = (
    "script",
    "style",
    "noscript",
    "svg",
    "nav",
    "header",
    "footer",
    "aside",
    "form",
    "iframe",
    "template",
    "select",
    "button",
    "head",
    "title",
)
# <!DOCTYPE ...>, CDATA and other <!...> declarations are markup, not
# text — the tag tokenizer below only matches real elements
_DECL_RE = re.compile(r"<![^>]*>")

_BLOCK_TAGS = frozenset(
    "p div section article main h1 h2 h3 h4 h5 h6 li ul ol table tr td th "
    "blockquote pre figure figcaption br hr dl dt dd".split()
)

# raw-text elements cannot nest per the HTML spec — an apparent open
# tag inside them (e.g. document.write('<script>…')) must not deepen
# the subtree counter
_RAWTEXT_TAGS = frozenset(
    ("script", "style", "title", "noscript", "iframe", "template")
)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
# open/close tags of drop-subtree elements only — the stripper scan
# visits just these (a handful per page) instead of every tag
_DROP_TAG_RE = re.compile(
    r"<(/?)(" + "|".join(_DROP_SUBTREE_TAGS) + r")\b((?:\"[^\"]*\"|'[^']*'|[^>])*)>",
    re.I,
)
_TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9-]*)((?:\"[^\"]*\"|'[^']*'|[^>])*)>")
_WS_RE = re.compile(r"[ \t\r\f\v]+")

# minimum words for a block to be considered content on its own
_MIN_WORDS = 8
# blocks with more than this fraction of linked text are boilerplate
_MAX_LINK_DENSITY = 0.33


def _strip_drop_subtrees(markup: str) -> str:
    """Remove non-content subtrees with a depth-counting scan, so
    *nested same-tag* chrome (``<nav><nav>…</nav>…</nav>``) is dropped
    whole — a non-greedy regex would stop at the inner close and leak
    the trailing boilerplate into block scoring (VERDICT r02 item 4).
    An unterminated drop tag swallows to EOF (truncated pages)."""
    parts: list[str] = []
    pos = 0
    drop_tag: str | None = None
    depth = 0
    for m in _DROP_TAG_RE.finditer(markup):
        closing, tag = m.group(1), m.group(2).lower()
        if drop_tag is None:
            if not closing:
                parts.append(markup[pos : m.start()])
                pos = m.end()
                if not _self_closing(tag, m.group(3)):
                    drop_tag = tag
                    depth = 1
        elif tag == drop_tag:
            if closing:
                depth -= 1
                if depth == 0:
                    drop_tag = None
                    pos = m.end()
            elif drop_tag not in _RAWTEXT_TAGS and not _self_closing(
                tag, m.group(3)
            ):
                depth += 1
    if drop_tag is None:
        parts.append(markup[pos:])
    elif drop_tag not in _RAWTEXT_TAGS:
        # unclosed STRUCTURAL drop tag (sloppy real-world markup):
        # keep the remainder and let block scoring sort the chrome out
        # — zeroing the whole page costs full recall, where leaked nav
        # links are caught by link density anyway. Unclosed raw-text
        # tags (script/style) still swallow to EOF: leaking JS/CSS into
        # extracted text is worse than dropping a truncated page.
        parts.append(markup[pos:])
    return " ".join(parts)


# script/style never self-close per the HTML5 parser ('<script src=x/>'
# is an OPEN tag) — and treating them as self-closing leaks code into
# text. Other drop tags keep honoring explicit XHTML-style '/>' so a
# dangling '<iframe src=x />' doesn't swallow the page.
_NEVER_SELF_CLOSE = frozenset(("script", "style"))


def _self_closing(tag: str, attrs: str) -> bool:
    """A trailing '/' marks a self-closing tag only when it is tag
    syntax, not the tail of an unquoted attribute value
    (``<script src=http://cdn/lib/>`` is an OPEN tag whose attr ends
    in '/')."""
    if tag in _NEVER_SELF_CLOSE:
        return False
    a = attrs.rstrip()
    if not a.endswith("/"):
        return False
    return len(a) == 1 or a[-2] in " \t\r\n\"'"


def _segment_blocks(markup: str) -> list[tuple[str, int]]:
    """Split cleaned markup into text blocks; returns
    ``[(block_text, linked_chars)]``."""
    blocks: list[tuple[str, int]] = []
    buf: list[str] = []
    linked_chars = 0
    in_anchor = 0
    pos = 0

    def flush() -> None:
        nonlocal buf, linked_chars
        text = _WS_RE.sub(" ", "".join(buf)).strip()
        if text:
            blocks.append((text, linked_chars))
        buf = []
        linked_chars = 0

    for m in _TAG_RE.finditer(markup):
        text = markup[pos : m.start()]
        if text:
            t = _html.unescape(text)
            buf.append(t)
            if in_anchor:
                linked_chars += len(t.strip())
        pos = m.end()
        closing, tag = m.group(1), m.group(2).lower()
        if tag == "a":
            in_anchor = max(0, in_anchor - 1) if closing else in_anchor + 1
        elif tag in _BLOCK_TAGS:
            flush()
    tail = markup[pos:]
    if tail:
        buf.append(_html.unescape(tail))
    flush()
    return blocks


_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title\s*>", re.S | re.I)
_H1_RE = re.compile(r"<h1[^>]*>(.*?)</h1\s*>", re.S | re.I)
_INNER_TAG_RE = re.compile(r"<[^>]+>")


def extract_title(markup: str) -> str:
    """Document title: ``<title>`` else first ``<h1>``, tags stripped,
    whitespace collapsed."""
    m = _TITLE_RE.search(markup) or _H1_RE.search(markup)
    if not m:
        return ""
    return _WS_RE.sub(" ", _html.unescape(_INNER_TAG_RE.sub(" ", m.group(1)))).strip()


_ERROR_MARKERS = (
    "404", "not found", "page not found", "403", "forbidden",
    "access denied", "error occurred", "500", "internal server error",
    "service unavailable", "page does not exist", "page doesn't exist",
)


def is_error_page(markup: str, main_text: str | None = None) -> bool:
    """Soft-404 / error-page heuristic (a standard crawl-corpus
    filter): an error marker in the title or h1, or a marker-bearing
    page whose main content is near-empty."""
    title = extract_title(markup).lower()
    if any(m in title for m in _ERROR_MARKERS):
        return True
    text = (main_text if main_text is not None else extract_main_content(markup)).lower()
    if len(text) < 200:
        # near-empty main content: check the whole visible text (the
        # boilerplate stripper drops short error blurbs as non-content)
        visible = _WS_RE.sub(
            " ", _html.unescape(_INNER_TAG_RE.sub(" ", _COMMENT_RE.sub(" ", markup)))
        ).lower()
        if len(visible) < 600 and any(m in visible for m in _ERROR_MARKERS):
            return True
    return False


def _classify_blocks(blocks: list[tuple[str, int]]) -> list[bool]:
    """Densitometric block classification: the published
    NumWordsRulesClassifier decision tree (Kohlschütter, Fankhauser &
    Nejdl, *Boilerplate Detection using Shallow Text Features*, WSDM
    2010; Boilerpipe, Apache-2.0) over (prev, curr, next) context —
    link density gates, then word-count thresholds smoothed across
    neighbouring blocks."""
    n = len(blocks)
    words = [len(t.split()) for t, _ in blocks]
    ld = [(linked / len(t)) if t else 1.0 for t, linked in blocks]
    out: list[bool] = []
    for i in range(n):
        prev_w = words[i - 1] if i > 0 else 0
        next_w = words[i + 1] if i + 1 < n else 0
        prev_ld = ld[i - 1] if i > 0 else 0.0
        if ld[i] > _MAX_LINK_DENSITY:
            out.append(False)
        elif prev_ld <= 0.555556:
            if words[i] <= 16:
                if next_w <= 15:
                    out.append(prev_w > 4)
                else:
                    out.append(True)
            else:
                out.append(True)
        else:
            # heavily-linked predecessor: demand more local evidence
            if words[i] <= 40:
                out.append(next_w > 17)
            else:
                out.append(True)
    return out


def extract_main_content(markup: str) -> str:
    """Strip boilerplate and return the main text content.

    Three passes: (1) the densitometric NumWordsRules classifier over
    (prev, curr, next) block context (:func:`_classify_blocks`);
    (2) adopt short link-free blocks *adjacent* to content (headings
    before an article body, short closing paragraphs after it) — the
    Boilerpipe neighbour rule; (3) if nothing survives, keep the
    largest link-free block of at least ``_MIN_WORDS`` words (the
    KeepLargestBlock fallback), so a one-paragraph document is not
    emptied by the context rules."""
    markup = _COMMENT_RE.sub(" ", markup)
    markup = _DECL_RE.sub(" ", markup)
    markup = _strip_drop_subtrees(markup)
    blocks = _segment_blocks(markup)

    is_core = _classify_blocks(blocks)
    out: list[str] = []
    for i, (text, linked) in enumerate(blocks):
        keep = is_core[i]
        if not keep and linked == 0 and len(text.split()) >= 3:
            neighbour = (i > 0 and is_core[i - 1]) or (
                i + 1 < len(blocks) and is_core[i + 1]
            )
            keep = neighbour
        if keep:
            out.append(text)
    if not out and blocks:
        best = max(blocks, key=lambda b: len(b[0].split()))
        text, linked = best
        if len(text.split()) >= _MIN_WORDS and (linked / len(text)) <= _MAX_LINK_DENSITY:
            return text
    return "\n".join(out)


# --------------------------------------------------- charset sniffing

_META_CHARSET_RE = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?\s*([A-Za-z0-9_.:-]+)", re.I
)
_XML_ENCODING_RE = re.compile(rb"<\?xml[^>]*encoding\s*=\s*[\"']([A-Za-z0-9_.:-]+)")


def sniff_charset(raw: bytes) -> str:
    """Best-effort charset detection for HTML byte payloads: BOM, then
    ``<meta charset=…>`` / ``<meta http-equiv … charset=…>`` / XML
    declaration within the first 4 KiB, then strict-UTF-8 probe, then
    the WHATWG-recommended windows-1252 fallback."""
    import codecs

    if raw[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if raw[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16"  # stdlib codec consumes the BOM
    head = raw[:4096]
    m = _META_CHARSET_RE.search(head) or _XML_ENCODING_RE.search(head)
    if m:
        name = m.group(1).decode("ascii", "replace")
        try:
            codecs.lookup(name)
            return name
        except LookupError:
            pass
    try:
        raw.decode("utf-8")
        return "utf-8"
    except UnicodeDecodeError:
        return "cp1252"


def decode_html_bytes(raw: bytes) -> str:
    """Bytes → text via :func:`sniff_charset` (errors replaced, never
    raises — the extraction no-raise invariant)."""
    try:
        return raw.decode(sniff_charset(raw), errors="replace")
    except Exception:
        return raw.decode("latin-1", errors="replace")
