"""HTML JSON-LD ingestion (reference analogue: load_html,
/root/reference/lib/pyld/jsonld.py:6639-6738 — there lxml-based; here a
dependency-free regex extractor so executors need no native libs).

Semantics mirrored from the reference/spec:
- collect ``<script type="application/ld+json">`` blocks (type match is
  case-insensitive, ignores parameters like ``;profile=...``);
- ``extract_all_scripts=False`` → first script only (or the one addressed by
  a ``#fragment`` id on the document URL);
- ``extract_all_scripts=True`` → all scripts merged into one ``@graph``
  array (objects with ``@context`` are kept whole as array entries);
- honor ``<base href>`` for the document base when present;
- invalid JSON in a script → spec error ``invalid script element``.

Spark surface: :func:`html_to_documents` — a per-page stage over an HTML
column (run by :func:`pyld_spark.operators.doc_runner.map_docs`), emitting
one JSON-LD document string per page (+ quarantine rows).
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField

from pyld_spark.jsonld.errors import JsonLdError
from pyld_spark.operators.doc_runner import doc_schema, map_docs

_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_SCRIPT_RE = re.compile(
    r"<script\b(?P<attrs>[^>]*)>(?P<body>.*?)</script\s*>",
    re.IGNORECASE | re.DOTALL,
)
_SCRIPT_OPEN_RE = re.compile(r"<script\b[^>]*>", re.IGNORECASE)
_SCRIPT_CLOSE_RE = re.compile(r"</script\s*>", re.IGNORECASE)


def _visible_html(html: str) -> str:
    """Drop ``<!-- -->`` comments per the HTML parsing model: a comment
    can start anywhere EXCEPT inside a script element, whose content is
    raw text — the markup machinery is off until ``</script>``, so a
    ``<!--`` inside a JSON payload is DATA, not a comment start (html5
    script-data state; lxml preserves it verbatim — found by the
    round-4 page fuzz when a planted payload contained "<!--").
    An unterminated comment hides everything to EOF (html5 eof-in-comment);
    an unterminated script is raw text to EOF."""
    out = []
    i, n = 0, len(html)
    while i < n:
        c = html.find("<!--", i)
        m = _SCRIPT_OPEN_RE.search(html, i)
        s = m.start() if m else -1
        if c == -1 and s == -1:
            out.append(html[i:])
            break
        if c != -1 and (s == -1 or c < s):
            out.append(html[i:c])
            e = html.find("-->", c + 4)
            i = n if e == -1 else e + 3
        else:
            close = _SCRIPT_CLOSE_RE.search(html, m.end())
            end = close.end() if close else n
            out.append(html[i:end])
            i = end
    return "".join(out)
# starts-with semantics, like the reference's xpath
# starts-with(@type,"application/ld+json") (jsonld.py:6704): ANY suffix
# after the prefix matches, including ";profile=..." or junk
_TYPE_RE = re.compile(
    r"""\btype\s*=\s*["']application/ld\+json[^"']*["']""",
    re.IGNORECASE,
)
_ID_RE = re.compile(r"""\bid\s*=\s*["']([^"']*)["']""", re.IGNORECASE)
_BASE_RE = re.compile(
    r"""<base\b[^>]*\bhref\s*=\s*["']([^"']*)["']""", re.IGNORECASE
)


def _parse_body(body: str):
    try:
        return json.loads(body.strip())
    except ValueError as e:
        raise JsonLdError(
            f"invalid JSON in ld+json script: {e}", "invalid script element"
        )


_TYPE_VAL_RE = re.compile(
    r"""\btype\s*=\s*["']([^"']*)["']""", re.IGNORECASE
)


def extract_scripts(html: str, fragment: str | None = None,
                    profile: str | None = None) -> list:
    """Raw bodies of JSON-LD scripts, in document order; with a
    ``fragment``, only the script whose id matches. With a ``profile``,
    scripts typed ``application/ld+json;profile={profile}...`` are
    preferred, falling back to ALL ld+json scripts when none match
    (reference jsonld.py:6697-6704). Bodies are returned UNPARSED: the
    reference parses lazily (first script only unless extractAllScripts),
    so invalid JSON in an unselected script must not raise. Comments are
    stripped first — lxml sees a commented-out ``<script>`` as a comment
    node, never an element (jsonld.py:6658) — but a ``<!--`` INSIDE a
    script body is raw text, not a comment."""
    html = _visible_html(html)
    out = []
    profiled = []
    for m in _SCRIPT_RE.finditer(html):
        attrs = m.group("attrs")
        if not _TYPE_RE.search(attrs):
            continue
        if fragment is not None:
            id_m = _ID_RE.search(attrs)
            if id_m is None or id_m.group(1) != fragment:
                continue
        if profile is not None:
            tv = _TYPE_VAL_RE.search(attrs)
            if tv is not None and tv.group(1).startswith(
                f"application/ld+json;profile={profile}"
            ):
                profiled.append(m.group("body"))
        out.append(m.group("body"))
    if fragment is not None and not out:
        raise JsonLdError(
            f"no ld+json script with id={fragment}", "loading document failed"
        )
    return profiled or out


def html_base(html: str, document_url: str | None = None) -> str | None:
    m = _BASE_RE.search(_visible_html(html))
    if m:
        from pyld_spark.jsonld.iri import resolve_iri

        return resolve_iri(document_url, m.group(1))
    return document_url


def load_html(html: str, url: str | None = None,
              extract_all_scripts: bool = False,
              profile: str | None = None):
    """HTML → JSON-LD document (reference load_html semantics)."""
    fragment = None
    if url and "#" in url:
        url, fragment = url.split("#", 1)
    scripts = extract_scripts(html, fragment or None,
                              None if fragment else profile)
    if not scripts:
        raise JsonLdError("no ld+json scripts found", "loading document failed")
    if fragment is not None or not extract_all_scripts:
        # only the selected script is parsed — invalid JSON in any OTHER
        # script is invisible (reference parses elements[0] lazily)
        return _parse_body(scripts[0])
    merged = []
    for s in scripts:
        parsed = _parse_body(s)
        if isinstance(parsed, list):
            merged.extend(parsed)
        else:
            merged.append(parsed)
    return merged


HTML_DOC_SCHEMA = doc_schema(
    StructField("doc", StringType(), True),
    StructField("base", StringType(), True),
)


def html_to_documents(
    pages: DataFrame,
    id_col: str = "page_id",
    html_col: str = "html",
    url_col: str | None = None,
    extract_all_scripts: bool = True,
) -> DataFrame:
    """(page_id, html[, url]) → (doc_id, JSON-LD doc json, base, error_code).

    One kernel call per page; output feeds directly into
    ``expand_stage.docs_to_triples``."""

    def extract(_doc_id, html, url=None):
        doc = load_html(html, url, extract_all_scripts)
        return [(json.dumps(doc), html_base(html, url))]

    extra = (url_col,) if url_col else ()
    return map_docs(pages, extract, HTML_DOC_SCHEMA, id_col, html_col, extra)
