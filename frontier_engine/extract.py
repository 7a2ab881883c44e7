"""Content extraction kernels: charset, MIME sniff, HTML→text, language ID.

Resiliparse-equivalent logic (the library is not available in-sandbox and the
reference pins no version), mirroring the *call contract* of
/root/reference/warc_indexer/indexer/process.py:237-306:

- ``detect_encoding`` / ``bytes_to_str``  — process.py:211,252
- ``detect_mime``                         — process.py:247-250
- ``HTMLTree.parse`` + ``body`` presence  — process.py:255-258
- full text  = extract_plain_text(alt_texts=True, preserve_formatting=False)
                                          — process.py:260
- main text  = extract_plain_text(main_content=True, alt_texts=True,
               preserve_formatting=True, list_bullets=False)
                                          — process.py:272-273
- title / meta description / meta keywords / headings
                                          — process.py:400-474
- ``lang_detect_fast``                    — process.py:270

The extractor is deliberately *specified* rather than heuristic-tuned
(SURVEY.md §7.4.1): one kernel, called from the single-node oracle, the
synthetic-data generator (which bakes expected ``text`` into the pages
table), and the Arrow/pandas UDFs — so byte-identity pipeline-vs-oracle is
an invariant of the architecture, not a tuning exercise.

Known reference quirks replicated on purpose (SURVEY.md §7.4.2):
- headings are queried on ``head`` not ``body`` (process.py:473), making
  them effectively always empty; ``HEADINGS_FROM_BODY=True`` gives the
  evidently-intended behavior.
- meta keywords are deduplicated through an unordered ``set()``
  (process.py:459); we sort after dedup to restore determinism
  (documented deviation — Spark results must be reproducible).
"""

from __future__ import annotations

import re
from collections import Counter
from html import unescape
from html.parser import HTMLParser
from typing import List, Optional, Tuple


# --------------------------------------------------------------------------
# Charset detection & decoding  (charset ladder, SURVEY.md §2.8)
# --------------------------------------------------------------------------

_BOMS = [
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
]


def detect_encoding(data: bytes) -> str:
    """BOM -> strict-UTF-8 probe -> windows-1252 fallback ladder."""
    if not data:
        return "utf-8"
    for bom, enc in _BOMS:
        if data.startswith(bom):
            return enc
    try:
        data.decode("utf-8", errors="strict")
        return "utf-8"
    except UnicodeDecodeError:
        return "windows-1252"


def bytes_to_str(data: bytes, encoding: Optional[str]) -> str:
    """Decode with the detected/declared charset; never raises.

    Mirrors resiliparse ``bytes_to_str`` contract (process.py:252): unknown
    encodings fall back down the ladder; undecodable bytes become U+FFFD
    (which downstream mojibake filtering then measures, process.py:264-268).
    """
    enc = (encoding or "utf-8").strip().lower() or "utf-8"
    try:
        return data.decode(enc, errors="replace")
    except (LookupError, ValueError):
        try:
            return data.decode("utf-8", errors="replace")
        except Exception:
            return data.decode("latin-1", errors="replace")


# --------------------------------------------------------------------------
# MIME sniffing  (process.py:247-250 contract)
# --------------------------------------------------------------------------

_MAGIC = [
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"%PDF-", "application/pdf"),
    (b"PK\x03\x04", "application/zip"),
    (b"\x1f\x8b", "application/gzip"),
    (b"RIFF", "audio/x-riff"),
    (b"OggS", "audio/ogg"),
    (b"\x00\x00\x00", "video/mp4"),  # ftyp boxes start with a size prefix
]

_HTML_HINT_RE = re.compile(
    rb"(?i)<!doctype\s+html|<html[\s>]|<head[\s>]|<body[\s>]|<title[\s>]|"
    rb"<div[\s>]|<p[\s>]|<a\s|<meta[\s>]|<script[\s>]"
)


def detect_mime(data: bytes) -> str:
    """Magic-bytes + tag-density heuristic -> canonical MIME string."""
    if not data:
        return "application/octet-stream"
    head = data[:4096]
    for magic, mime in _MAGIC:
        if head.startswith(magic):
            return mime
    if _HTML_HINT_RE.search(head):
        return "text/html"
    # printable-ratio probe for plain text
    sample = head[:1024]
    printable = sum(1 for b in sample if 32 <= b < 127 or b in (9, 10, 13) or b >= 128)
    if printable / max(1, len(sample)) > 0.95:
        return "text/plain"
    return "application/octet-stream"


# --------------------------------------------------------------------------
# Minimal DOM
# --------------------------------------------------------------------------

_VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
_RAW_TEXT_TAGS = frozenset({"script", "style", "noscript", "template"})
# Tags that imply body content has started even without an explicit <body>.
_HEAD_TAGS = frozenset({"title", "meta", "link", "base", "style", "script", "noscript", "template", "head", "html"})
_BLOCK_TAGS = frozenset(
    (
        "address article aside blockquote body center dd details dialog dir div dl dt "
        "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr li "
        "main menu nav ol p pre section summary table tbody td tfoot th thead tr ul"
    ).split()
)
_NON_CONTENT_TAGS = frozenset({"script", "style", "noscript", "template", "iframe", "object", "svg", "head"})
_BOILERPLATE_TAGS = frozenset({"nav", "header", "footer", "aside", "form"})
_MAIN_SELECTOR_TAGS = ("main", "article")


class Node:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: Optional[dict] = None, parent: "Node" = None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list = []  # Node | str
        self.parent = parent

    # -- tiny query helpers ------------------------------------------------
    def iter(self):
        yield self
        for c in self.children:
            if isinstance(c, Node):
                yield from c.iter()

    def find_all(self, *tags: str) -> List["Node"]:
        return [n for n in self.iter() if n.tag in tags]

    def find_first(self, tag: str) -> Optional["Node"]:
        for n in self.iter():
            if n.tag == tag:
                return n
        return None

    def find_class(self, cls: str) -> Optional["Node"]:
        for n in self.iter():
            if cls in (n.attrs.get("class") or "").split():
                return n
        return None

    def text_content(self) -> str:
        parts: list[str] = []

        def walk(n: Node):
            for c in n.children:
                if isinstance(c, str):
                    parts.append(c)
                elif c.tag not in _RAW_TEXT_TAGS:
                    walk(c)

        walk(self)
        return "".join(parts)


class _TreeBuilder(HTMLParser):
    """Forgiving HTML5-ish tree builder over the stdlib tokenizer.

    Implicit-structure rules (fixed engine spec, lexbor-informed):
    - <head>-level tags before body content attach to the head,
    - the first non-head tag or non-whitespace text opens the (implicit)
      body *only if* an explicit <body> never appears later; an explicit
      <body> is authoritative,
    - unknown/misnested end tags close the nearest matching open tag.
    """

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("#document")
        self.html = Node("html", parent=self.root)
        self.root.children.append(self.html)
        self.head = Node("head", parent=self.html)
        self.html.children.append(self.head)
        self.body: Optional[Node] = None
        self.explicit_body = False
        self.stack: list[Node] = []
        self._in_raw: Optional[str] = None

    # -- structure helpers -------------------------------------------------
    def _ensure_body(self) -> Node:
        if self.body is None:
            self.body = Node("body", parent=self.html)
            self.html.children.append(self.body)
        return self.body

    def _cur(self, for_tag: Optional[str] = None, is_text: bool = False) -> Node:
        if self.stack:
            return self.stack[-1]
        if is_text or (for_tag is not None and for_tag not in _HEAD_TAGS):
            return self._ensure_body()
        return self.head

    # -- parser callbacks --------------------------------------------------
    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        if tag == "html":
            return
        if tag == "head":
            self.stack.append(self.head)
            return
        if tag == "body":
            self.explicit_body = True
            body = self._ensure_body()
            body.attrs.update({k: (v if v is not None else "") for k, v in attrs})
            self.stack = [body]
            return
        parent = self._cur(for_tag=tag)
        node = Node(tag, {k.lower(): (v if v is not None else "") for k, v in attrs}, parent)
        parent.children.append(node)
        if tag in _RAW_TEXT_TAGS:
            self._in_raw = tag
        if tag not in _VOID_TAGS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        tag = tag.lower()
        parent = self._cur(for_tag=tag)
        parent.children.append(
            Node(tag, {k.lower(): (v if v is not None else "") for k, v in attrs}, parent)
        )

    def handle_endtag(self, tag):
        tag = tag.lower()
        if tag == self._in_raw:
            self._in_raw = None
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if self._in_raw:
            return
        if not self.stack and not data.strip():
            return
        parent = self._cur(is_text=True)
        parent.children.append(data)


class HTMLDocument:
    """Parsed document with the query surface create_payload needs."""

    def __init__(self, html: str):
        builder = _TreeBuilder()
        try:
            builder.feed(html)
            builder.close()
        except Exception:
            pass
        self.root = builder.root
        self.head = builder.head
        # "no body" (process.py:257-258): an explicit empty <body> still
        # counts as a body; an implicit body exists only if content reached it.
        if builder.body is not None and (builder.explicit_body or builder.body.children):
            self.body: Optional[Node] = builder.body
        else:
            self.body = None

    @property
    def title(self) -> str:
        t = self.head.find_first("title")
        return t.text_content() if t is not None else ""


def parse_html(html: str) -> HTMLDocument:
    return HTMLDocument(html)


# --------------------------------------------------------------------------
# Plain-text extraction
# --------------------------------------------------------------------------

_WS_RE = re.compile(r"\s+")


def _ws(text: str) -> str:
    return _WS_RE.sub(" ", text).strip()


def _select_main_root(body: Node) -> Tuple[Node, bool]:
    """Main-content root: <main>/<article>, else #main/#content or
    .main/.content div, else the whole body (boilerplate then subtracted)."""
    for tag in _MAIN_SELECTOR_TAGS:
        n = body.find_first(tag)
        if n is not None:
            return n, False
    for n in body.iter():
        if n.tag == "div":
            ident = n.attrs.get("id", "")
            classes = (n.attrs.get("class") or "").split()
            if ident in ("main", "content") or "main" in classes or "content" in classes:
                return n, False
    return body, True


def extract_plain_text(
    doc_or_node,
    *,
    main_content: bool = False,
    alt_texts: bool = True,
    preserve_formatting: bool = False,
    list_bullets: bool = True,
) -> str:
    """Specified HTML→text (resiliparse-shaped contract, process.py:260,272).

    preserve_formatting=False: every text fragment (and alt text) becomes a
    space-joined stream, ws-collapsed — one line.
    preserve_formatting=True: block-level boundaries emit newlines; each
    line ws-collapsed; blank lines dropped; ``list_bullets`` adds "- " to li.
    """
    if isinstance(doc_or_node, HTMLDocument):
        body = doc_or_node.body
        if body is None:
            return ""
    else:
        body = doc_or_node
    root = body
    strip_boiler = False
    if main_content:
        root, strip_boiler = _select_main_root(body)

    lines: list[list[str]] = [[]]

    def newline():
        if lines[-1]:
            lines.append([])

    def walk(n: Node):
        for c in n.children:
            if isinstance(c, str):
                lines[-1].append(c)
                continue
            if c.tag in _NON_CONTENT_TAGS:
                continue
            if strip_boiler and c.tag in _BOILERPLATE_TAGS:
                continue
            if c.tag == "img":
                if alt_texts:
                    alt = _ws(unescape(c.attrs.get("alt", "")))
                    if alt:
                        lines[-1].append(" " + alt + " ")
                continue
            if c.tag == "br":
                newline()
                continue
            is_block = c.tag in _BLOCK_TAGS
            if is_block:
                newline()
            if c.tag == "li" and list_bullets:
                lines[-1].append("- ")
            walk(c)
            if is_block:
                newline()

    walk(root)
    collapsed = [_ws("".join(parts)) for parts in lines]
    collapsed = [ln for ln in collapsed if ln]
    if preserve_formatting:
        return "\n".join(collapsed)
    return _ws(" ".join(collapsed))


# --------------------------------------------------------------------------
# Title / meta description / keywords / headings  (process.py:400-474)
# --------------------------------------------------------------------------

HEADINGS_FROM_BODY = False  # replicate reference quirk (head-scoped headings)


def get_title(doc: HTMLDocument) -> str:
    """<title> -> first h1 -> first h2 -> first .title (process.py:400-423)."""
    t = doc.title.strip()
    if t:
        return _ws(t)
    if doc.body is None:
        return ""
    for tag in ("h1", "h2"):
        n = doc.body.find_first(tag)
        if n is not None and n.text_content():
            return _ws(n.text_content())
    n = doc.body.find_class("title")
    if n is not None:
        return _ws(n.text_content())
    return ""


def get_meta_desc(doc: HTMLDocument) -> str:
    """head > meta[name=description][content], ws-collapsed (process.py:426-440)."""
    for n in doc.head.find_all("meta"):
        if (n.attrs.get("name") or "").lower() == "description":
            return _ws(n.attrs.get("content", ""))
    return ""


def get_meta_keywords(doc: HTMLDocument, max_len: int = 80, limit: int = 30) -> List[str]:
    """Split on ',', collapse, truncate to 80, lowercase, dedup, cap 30
    (process.py:443-459). Deviation: sorted after dedup — the reference's
    ``set()`` ordering is nondeterministic, ours must not be."""
    for n in doc.head.find_all("meta"):
        if (n.attrs.get("name") or "").lower() == "keywords":
            raw = n.attrs.get("content", "")
            kws = {_ws(k)[:max_len].lower() for k in raw.split(",")}
            return sorted(kws)[:limit]
    return []


def get_headings(doc: HTMLDocument, max_level: int = 3) -> List[str]:
    """Reference quirk (process.py:462-474): headings are queried on *head*,
    so this is nearly always []. HEADINGS_FROM_BODY flips to intended scope."""
    scope = doc.body if (HEADINGS_FROM_BODY and doc.body is not None) else doc.head
    tags = tuple(f"h{i}" for i in range(1, max_level + 1))
    return [_ws(n.text_content()) for n in scope.find_all(*tags)]


def get_links(doc: HTMLDocument) -> List[str]:
    """href targets of <a> elements — frontier link discovery (engine-new)."""
    if doc.body is None:
        return []
    out = []
    for n in doc.body.find_all("a"):
        href = n.attrs.get("href", "").strip()
        if href and not href.startswith(("javascript:", "mailto:", "data:")):
            out.append(href)
    return out


# --------------------------------------------------------------------------
# Language identification  (lang_detect_fast contract, process.py:270)
# --------------------------------------------------------------------------

_LANG_STOPWORDS = {
    "en": {"the", "and", "of", "to", "in", "is", "that", "it", "for", "with", "was", "this", "are", "not"},
    "de": {"der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von", "für", "auf", "sich", "den"},
    "fr": {"le", "la", "les", "et", "est", "une", "des", "dans", "que", "pour", "pas", "sur", "avec", "qui"},
    "es": {"el", "los", "las", "es", "una", "por", "para", "como", "más", "pero", "sus", "del", "este"},
    "it": {"il", "di", "che", "non", "per", "con", "sono", "nel", "alla", "gli", "anche", "come", "della"},
    "pt": {"o", "os", "as", "um", "uma", "não", "para", "com", "por", "mais", "dos", "das", "isso"},
    "nl": {"de", "het", "een", "van", "en", "niet", "dat", "voor", "met", "zijn", "naar", "maar", "ook"},
}


# inverted index token → languages whose stopword list contains it
# (built once at import; drives the single-pass vote in detect_lang)
_SW_INDEX: dict = {}
for _lang in sorted(_LANG_STOPWORDS):
    for _t in _LANG_STOPWORDS[_lang]:
        _SW_INDEX.setdefault(_t, []).append(_lang)


def detect_lang(text: str) -> Tuple[str, float]:
    """Deterministic fast language ID: script ranges for CJK/Cyrillic/Hangul,
    stopword voting for Latin-script languages. Returns (lang, score<=1)."""
    if not text:
        return "unknown", 0.0
    sample = text[:4000]
    n = len(sample)
    cjk = kana = hangul = cyr = 0
    # fast path: if no codepoint reaches U+0400 the counting loop can't hit
    # any range — max() is a C scan, the common Latin-script case skips the
    # per-char Python loop entirely (identical counts: all zero)
    if max(sample) >= "Ѐ":
        for ch in sample:
            o = ord(ch)
            if 0x3040 <= o <= 0x30FF:
                kana += 1
            elif 0x4E00 <= o <= 0x9FFF:
                cjk += 1
            elif 0xAC00 <= o <= 0xD7AF:
                hangul += 1
            elif 0x0400 <= o <= 0x04FF:
                cyr += 1
    if kana / n > 0.05:
        return "ja", min(1.0, (kana + cjk) / n * 2)
    if hangul / n > 0.05:
        return "ko", min(1.0, hangul / n * 2)
    if cjk / n > 0.10:
        return "zh", min(1.0, cjk / n * 2)
    if cyr / n > 0.10:
        return "ru", min(1.0, cyr / n * 2)
    tokens = re.findall(r"[^\W\d_]+", sample.lower(), re.UNICODE)
    if not tokens:
        return "unknown", 0.0
    # vote over unique-token counts via the inverted stopword index: ONE
    # pass over unique tokens (dict lookup each) instead of one membership
    # scan per language (r6; totals and tie-break identical — selection
    # still walks languages in sorted order taking strictly-greater hits)
    tok_counts = Counter(tokens)
    lang_hits: dict[str, int] = {}
    for t, c in tok_counts.items():
        for lang in _SW_INDEX.get(t, ()):
            lang_hits[lang] = lang_hits.get(lang, 0) + c
    best_lang, best_hits = "unknown", 0
    for lang in sorted(_LANG_STOPWORDS):
        hits = lang_hits.get(lang, 0)
        if hits > best_hits:
            best_lang, best_hits = lang, hits
    score = best_hits / len(tokens)
    if best_hits == 0 or score < 0.02:
        return "unknown", 0.0
    return best_lang, min(1.0, score * 5)
