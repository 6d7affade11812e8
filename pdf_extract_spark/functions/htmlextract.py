"""HTML main-content extraction: boilerplate strip via DOM heuristics.

The north rule's extraction tier covers "HTML boilerplate strip …
DOM heuristics" alongside the PDF parse: web corpora (the WARC source)
are mostly HTML, and a training-data pipeline keeps the main content,
not the chrome. This is a stdlib-only (html.parser) implementation of
the classic boilerpipe/readability block heuristics:

  * the DOM streams into text BLOCKS at block-level element boundaries;
  * blocks inside nav/header/footer/aside/form containers — or inside
    any element whose id/class matches the usual chrome vocabulary
    (nav, menu, footer, sidebar, comment, banner, ad…) — are boilerplate;
  * high link-density blocks (>2/3 of their characters inside <a>) are
    link lists, dropped;
  * short non-heading blocks (< 25 chars) are chrome fragments, dropped;
  * headings survive with a lower bar; <img> elements become ordered
    media refs, mirroring the PDF lane's media spans.

Per-block output preserves DOM order, so the span-sequence invariant
(kind, text, media_ref, order) carries over unchanged. Unbalanced
markup is tolerated: an end tag pops the element stack back to its
nearest matching open tag.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li td th dd dt article section blockquote "
    "pre figcaption summary main body br tr table ul ol".split()
)
SKIP_TAGS = frozenset(
    "script style noscript svg template iframe head title".split())
BOILER_TAGS = frozenset("nav header footer aside form button select".split())
HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())
VOID_TAGS = frozenset(
    "img br hr meta link input area base col embed source track wbr".split()
)

#: id/class vocabulary marking chrome containers
_BOILER_ATTR_RE = re.compile(
    r"(?:^|[\s_-])(?:nav|navbar|navigation|menu|footer|header|sidebar|"
    r"side-bar|comment|comments|banner|advert|ad|ads|promo|share|social|"
    r"cookie|breadcrumb|pagination|related|widget|toolbar)(?:$|[\s_-])",
    re.IGNORECASE,
)

#: ARIA landmark roles that are chrome; "search" is role-only because a
#: class="search-results" container can hold the page's actual content
_BOILER_ROLE_RE = re.compile(
    r"^(?:navigation|banner|contentinfo|complementary|search|menu|"
    r"menubar|toolbar)$",
    re.IGNORECASE,
)

MIN_BLOCK_CHARS = 25
MIN_HEADING_CHARS = 3
MAX_LINK_DENSITY = 0.66

_WS_RE = re.compile(r"\s+")


class _Block:
    __slots__ = ("parts", "link_chars", "heading", "boiler")

    def __init__(self, heading: bool, boiler: bool):
        self.parts: list[str] = []
        self.link_chars = 0
        self.heading = heading
        self.boiler = boiler

    def text(self) -> str:
        return _WS_RE.sub(" ", "".join(self.parts)).strip()


class _MainContentParser(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.out: list[tuple[str, str, str]] = []  # (kind, text, media_ref)
        #: open elements as (tag, boilerish) — end tags pop to the match
        self._stack: list[tuple[str, bool]] = []
        self._skip = 0
        self._boiler = 0
        self._link = 0
        self._heading = 0
        self._cur: _Block | None = None
        #: media refs seen inside the OPEN block — buffered so an inline
        #: <img> doesn't sever the paragraph (a flush mid-block would
        #: strand the leading fragment below MIN_BLOCK_CHARS and drop
        #: the sentence); emitted right after the block's text span
        self._pending_media: list[str] = []
        self.lang_attr = ""

    # -- block lifecycle ----------------------------------------------------
    def _flush(self) -> None:
        b = self._cur
        self._cur = None
        text = "" if b is None or b.boiler else b.text()
        keep = bool(text)
        if keep:
            if b.heading:
                keep = len(text) >= MIN_HEADING_CHARS
            else:
                keep = (
                    len(text) >= MIN_BLOCK_CHARS
                    and b.link_chars <= MAX_LINK_DENSITY * len(text)
                )  # else: chrome fragment or link list / menu
        if keep:
            self.out.append(("text", text, ""))
        if self._pending_media:
            # media survives even when its block's text is dropped —
            # the img passed its own boiler check at its start tag
            self.out.extend(("media", "", src) for src in self._pending_media)
            self._pending_media.clear()

    def _open_block(self) -> None:
        self._cur = _Block(self._heading > 0, self._boiler > 0)

    # -- parser events ------------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag == "html" and not self.lang_attr:
            lang = next((v for k, v in attrs if k == "lang" and v), "")
            self.lang_attr = lang.split("-")[0].strip().lower()
        if tag in SKIP_TAGS:
            self._skip += 1
            self._stack.append((tag, False))
            return
        if self._skip:
            self._stack.append((tag, False))
            return
        boilerish = tag in BOILER_TAGS or any(
            (k in ("id", "class") and v and _BOILER_ATTR_RE.search(v))
            or (k == "role" and v and _BOILER_ROLE_RE.match(v.strip()))
            for k, v in attrs
        )
        if tag == "img":
            src = next((v for k, v in attrs if k == "src" and v), "")
            if src and not self._boiler and not boilerish:
                if self._cur is not None:
                    self._pending_media.append(src)  # inline: don't split
                else:
                    self.out.append(("media", "", src))
            return  # void element: never on the stack
        if tag in VOID_TAGS:
            return
        if boilerish:
            self._boiler += 1
        if tag == "a":
            self._link += 1
        if tag in HEADING_TAGS:
            self._heading += 1
        self._stack.append((tag, boilerish))
        if tag in BLOCK_TAGS:
            self._flush()
            self._open_block()

    def _pop(self, tag: str, boilerish: bool) -> None:
        if tag in SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        if boilerish:
            self._boiler = max(0, self._boiler - 1)
        if tag == "a":
            self._link = max(0, self._link - 1)
        if tag in HEADING_TAGS:
            self._heading = max(0, self._heading - 1)

    def handle_endtag(self, tag):
        if tag in VOID_TAGS:
            return
        # pop the stack back to the nearest matching open tag; elements
        # it implicitly closes pop too (tolerates unbalanced markup)
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i][0] == tag:
                for t, b in reversed(self._stack[i:]):
                    self._pop(t, b)
                del self._stack[i:]
                break
        if not self._skip and tag in BLOCK_TAGS:
            self._flush()

    def handle_data(self, data):
        if not data:
            return
        if self._skip:
            return
        if self._cur is None:
            if not data.strip():
                return
            self._open_block()
        self._cur.parts.append(data)
        if self._link:
            self._cur.link_chars += len(data.strip())

    def close(self):
        super().close()
        self._flush()


def parse_main(html: str) -> "_MainContentParser":
    """Parsed document: ``out`` spans and the declared ``lang_attr``."""
    p = _MainContentParser()
    try:
        p.feed(html or "")
        p.close()
    except Exception:
        pass  # salvage whatever parsed before malformed markup
    return p
