"""HTML -> text extraction as a vectorized pandas UDF (the S2/H4 analog).

The reference iterates archive members and hashes their bytes in worker
processes (/root/reference/scanner/fileHasher.py:189-239,
/root/reference/scanner/hashFile.py:135-164); the web graft's equivalent
per-row step is boilerplate removal from raw HTML. Extraction must be
*byte-identical per url* across runs and partitions (BASELINE input_hint) —
pure function of the html bytes, no locale/hash-seed dependence.

Strategy (main-content heuristic, trafilatura-style):
 1. if a <main>...</main> element exists, take its inner HTML;
 2. otherwise strip <script>/<style> blocks and all tags from <body>;
then unescape HTML entities and return. Step 1 inverts fixtures.render_html
exactly (the round-trip invariant tested in test_textprep.py).
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType

_SCRIPT_OPEN_RE = re.compile(r"<(script|style)\b", re.IGNORECASE)
_SCRIPT_CLOSE_RE = re.compile(r"</(script|style)>", re.IGNORECASE)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")

# The scans below return exactly what the regexes
# rb"<main(?:\s[^>]*)?>(.*?)</main>" (DOTALL) and
# r"<(script|style)\b[^>]*>.*?</\1>" (DOTALL | IGNORECASE) return, on every
# input, in time linear in the page length. The regexes rescan to the end of
# the page for each unclosed tag: a 140 KB page with 4,000 unclosed <script>
# or <main> tags takes about 4 s. tests/test_textprep.py keeps them as
# differential oracles.


def _main_inner(b: bytes) -> bytes | None:
    """The inner HTML the <main> regex above captures, or None when it
    finds no match. Only the first <main> tag whose name is followed by
    '>' or whitespace can match: every later one ends at the same '>' or
    a later one, so it would need a later </main>."""
    i = b.find(b"<main")
    while i >= 0:
        nxt = b[i + 5 : i + 6]
        if nxt == b">" or (nxt and nxt in b" \t\n\r\f\v"):
            end = b.find(b">", i + 5)
            close = b.find(b"</main>", end + 1) if end >= 0 else -1
            return None if close < 0 else b[end + 1 : close]
        i = b.find(b"<main", i + 1)
    return None


def _fold(name: str) -> str:
    """The per-character lowercase an IGNORECASE backreference compares:
    str.lower, except that U+0130 lowers to a plain 'i' (str.lower adds a
    combining dot, which no other letter of a tag name can produce)."""
    return name.lower().replace("i\u0307", "i")


def _next_closer(raw: str, pos: int, name: str) -> re.Match | None:
    """First </script> or </style> at or after pos whose name folds to
    `name`."""
    while (c := _SCRIPT_CLOSE_RE.search(raw, pos)) and _fold(c[1]) != name:
        pos = c.start() + 1
    return c


def strip_script_style(raw: str) -> str:
    """Each <script>/<style> element replaced by one space.

    An element runs from the tag name to the first '>' after it, then to
    the first closing tag of the same name (compared as _fold does).
    Opening tags are visited in page order, so every search for the next
    '>' or the next closer starts at or after the previous one: both are
    found once and reused until the scan passes them."""
    out = []
    done = at = 0  # raw[:done] is emitted; the next tag is searched from at
    gt = -1  # first '>' at or after the current tag's name
    closers: dict[str, re.Match | None] = {}  # folded name -> next closer
    while m := _SCRIPT_OPEN_RE.search(raw, at):
        if gt < m.end():
            gt = raw.find(">", m.end())
            if gt < 0:
                break  # no '>' left: no later tag can open
        name = _fold(m[1])
        c = closers.get(name)
        if name not in closers or (c is not None and c.start() <= gt):
            c = closers[name] = _next_closer(raw, gt + 1, name)
        if c is None:
            at = m.start() + 1
            continue
        out += (raw[done : m.start()], " ")
        done = at = c.end()
    out.append(raw[done:])
    return "".join(out)


def extract_text_py(html_bytes: bytes | None) -> str:
    """Pure extraction function; the UDF maps this over Arrow batches."""
    if html_bytes is None:
        return ""
    inner = _main_inner(html_bytes)
    if inner is not None:
        return _html.unescape(inner.decode("utf-8", errors="replace"))
    raw = strip_script_style(html_bytes.decode("utf-8", errors="replace"))
    # no tag ends after the last '>', and _TAG_RE would rescan to the end of
    # the page from every '<' there
    k = raw.rfind(">") + 1
    raw = _TAG_RE.sub(" ", raw[:k]) + raw[k:]
    return _WS_RE.sub(" ", _html.unescape(raw)).strip()


@F.pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text_py)


def with_extracted_text(
    pages: DataFrame,
    html_col: str = "html",
    out: str = "text",
    mime_col: str | None = None,
) -> DataFrame:
    """Adds/overwrites the extracted-text column from raw payload bytes.

    mime_col enables the S3 content-type dispatch
    (/root/reference/pArch.py:31-53 iterHashes dispatches per member type):
    html-family payloads go through boilerplate extraction, text/* payloads
    decode as UTF-8 verbatim, anything else (binary media — the multimodal
    module's business) yields empty text. Mime strings are normalized first
    (functions/junk.fix_mime, the H7 analog), so flaky spellings dispatch
    consistently. Without mime_col every payload is treated as HTML (the
    common-crawl default)."""
    if mime_col is None:
        return pages.withColumn(out, extract_text_udf(F.col(html_col)))
    from .junk import fix_mime

    m = fix_mime(F.col(mime_col))
    return pages.withColumn(
        out,
        F.when(
            m.isin("text/html", "application/html"),
            extract_text_udf(F.col(html_col)),
        )
        .when(
            m.startswith("text/"),
            # cast, NOT F.decode: decode('UTF-8') under Spark 4 ANSI throws
            # MALFORMED_CHARACTER_CODING on the first invalid byte sequence
            # (one bad text/plain payload would abort the whole job); cast
            # uses replacement-char semantics, matching the HTML branch's
            # errors='replace' (extract_text_py)
            F.col(html_col).cast("string"),
        )
        .otherwise(F.lit("")),
    )
