"""HTML -> text extraction (the CommonCrawl-WET step of a web-corpus
pipeline) on the stdlib ``html.parser`` — no lxml/bs4 in the container,
and none needed for the extraction semantics that matter at 100 TB:

- script / style / noscript / template / head / svg contents dropped,
- block-level elements become line breaks, inline elements spaces,
- entities and character references decoded,
- whitespace normalized,
- links and the title captured alongside the text.

The extractor is tolerant by construction (HTMLParser never raises on
malformed markup), which the tests pin with unclosed/misnested tags and
attribute edge cases.  The Spark surface is one mapInPandas — the same
map-side shape as every other kernel here.

Reference parity: the Yelp reference has no web-document surface; this
extends the llmops text family (textstats.py, classify.py).
"""

from __future__ import annotations

from html.parser import HTMLParser

_SKIP = {"script", "style", "noscript", "template", "head", "svg",
         "iframe"}
_BLOCK = {
    "p", "div", "br", "li", "ul", "ol", "table", "tr", "td", "th",
    "h1", "h2", "h3", "h4", "h5", "h6", "section", "article", "header",
    "footer", "nav", "blockquote", "pre", "hr", "main", "aside",
    "figure", "figcaption", "form",
}


class _Extractor(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self.links: list[str] = []
        self.title_parts: list[str] = []
        self._skip_depth = 0
        self._in_title = False

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP:
            self._skip_depth += 1
        if tag == "title":
            self._in_title = True
        if tag == "a":
            for k, v in attrs:
                if k == "href" and v:
                    self.links.append(v)
        if tag in _BLOCK:
            self.parts.append("\x00")  # block-break sentinel, never data

    def handle_endtag(self, tag):
        if tag in _SKIP and self._skip_depth:
            self._skip_depth -= 1
        if tag == "title":
            self._in_title = False
        if tag in _BLOCK:
            self.parts.append("\x00")

    def handle_data(self, data):
        if self._in_title:
            self.title_parts.append(data)
        elif not self._skip_depth:
            self.parts.append(data)


def extract_html(html: str) -> dict:
    """-> {title, text (whitespace-normalized, newline-separated
    blocks), links}.  Never raises on malformed markup."""
    p = _Extractor()
    p.feed(html or "")
    p.close()
    # split on BLOCK sentinels only: newlines inside markup are ordinary
    # whitespace (pretty-printed HTML), collapsed by the per-chunk split
    lines = []
    for chunk in "".join(p.parts).split("\x00"):
        norm = " ".join(chunk.split())
        if norm:
            lines.append(norm)
    return {
        "title": " ".join("".join(p.title_parts).split()),
        "text": "\n".join(lines),
        "links": p.links,
    }


def wrap_in_html(doc_id: int, text: str) -> str:
    """Deterministic page template for the oracle-paired query: the
    document text (HTML-escaped) inside a realistic page with a title,
    1 + id%3 nav links, script/style junk and a footer — extraction
    must recover exactly the escaped text (normalized), the title and
    the link count, all id-derivable."""
    import html as _html

    links = "".join(
        f'<li><a href="/nav/{doc_id}/{i}">Nav {i}</a></li>'
        for i in range(1 + doc_id % 3)
    )
    body = "".join(
        f"<p>{_html.escape(para)}</p>" for para in (text or "").split("\n")
    )
    return (
        f"<!DOCTYPE html><html><head><title>doc-{doc_id}</title>"
        "<style>body { color: red }</style>"
        "<script>var x = '<p>not text</p>';</script></head>"
        f"<body><nav><ul>{links}</ul></nav>"
        f"<article>{body}</article>"
        "<footer>&copy; corpus</footer></body></html>"
    )
