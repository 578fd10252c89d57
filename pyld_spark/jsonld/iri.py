"""RFC 3986 IRI resolution (resolve + relativize).

Reference parity: /root/reference/lib/pyld/iri_resolver.py (behavioral only —
this is a fresh implementation of RFC 3986 §5). Pure string functions, safe
to vectorize inside pandas UDF batches.
"""

from __future__ import annotations

import re
from functools import lru_cache

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")

# exact mirror of the reference's `_is_absolute_iri` regex
# (jsonld.py:6530) including its quirk: the class `[A-Za-z0-9+-.]` spells
# the RANGE 0x2B-0x2E, so ',' is a legal scheme character there
_ABSOLUTE_IRI_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+,\-.]*|_):[^\s]*$")


@lru_cache(maxsize=16384)
def _abs_iri_match(value: str) -> bool:
    return bool(_ABSOLUTE_IRI_RE.match(value))


def is_absolute_iri(value: str) -> bool:
    """Loose absolute-IRI test: scheme (or ``_`` for bnodes) + no whitespace.

    Hot path (every subject/predicate/object of every quad): IRIs repeat
    heavily across a corpus, so the regex result is LRU-cached per worker
    process."""
    return isinstance(value, str) and _abs_iri_match(value)


def rooted_remove_dot_segments(path: str) -> str:
    """Literal transcription of the reference's remove_dot_segments
    (iri_resolver.py:18-94, a port of relative-to-absolute-iri.js): the
    result ALWAYS starts with '/', so a relative or empty path is rooted
    ('' → '/', 'a//b' → '/a//b'). Used by relativization (unresolve), where
    the rooting changes segment alignment for authority-only bases:
    unresolve('http://e//abs', 'http://e') must yield 'abs', not '/abs'."""
    segment_buffers: list[list[str]] = []
    i = 0
    length = len(path)
    while i < length:
        ch = path[i]
        if ch == "/":
            if i + 1 < length and path[i + 1] == ".":
                if i + 2 < length and path[i + 2] == ".":
                    next_ch = path[i + 3] if i + 3 < length else ""
                    if next_ch and next_ch not in ("#", "?", "/"):
                        segment_buffers.append([])
                        i += 1
                        continue
                    if segment_buffers:
                        segment_buffers.pop()
                    if i + 3 >= length:
                        segment_buffers.append([])
                    i += 3
                    continue
                next_ch = path[i + 2] if i + 2 < length else ""
                if next_ch and next_ch not in ("#", "?", "/"):
                    segment_buffers.append([])
                    i += 1
                    continue
                if i + 2 >= length:
                    segment_buffers.append([])
                i += 2
                continue
            segment_buffers.append([])
            i += 1
            continue
        if ch in ("#", "?"):
            if not segment_buffers:
                segment_buffers.append([])
            segment_buffers[-1].append(path[i:])
            break
        if not segment_buffers:
            segment_buffers.append([])
        segment_buffers[-1].append(ch)
        i += 1
    return "/" + "/".join("".join(buf) for buf in segment_buffers)


def remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4, with the reference's query/fragment stop: its
    resolver (iri_resolver.py:77-84) halts dot-segment processing at the
    first '#' or '?' and appends the rest verbatim, so '/..' inside a
    query string is NOT interpreted as a path segment."""
    if not path:
        return ""
    cut = len(path)
    for ch in "#?":
        p = path.find(ch)
        if 0 <= p < cut:
            cut = p
    tail = path[cut:]
    path = path[:cut]
    output: list[str] = []
    inp = path
    while inp:
        if inp.startswith("../"):
            inp = inp[3:]
        elif inp.startswith("./"):
            inp = inp[2:]
        elif inp.startswith("/./"):
            inp = "/" + inp[3:]
        elif inp == "/.":
            # before a query/fragment the reference does NOT add the
            # trailing slash (the '/.' skip lands directly on '?'/'#')
            inp = "" if tail else "/"
        elif inp.startswith("/../"):
            inp = "/" + inp[4:]
            if output:
                output.pop()
        elif inp == "/..":
            inp = "" if tail else "/"
            if output:
                output.pop()
        elif inp in (".", ".."):
            inp = ""
        else:
            # move first path segment (incl. leading /) to output
            i = 0
            if inp.startswith("/"):
                i = 1
            j = inp.find("/", i)
            if j == -1:
                output.append(inp)
                inp = ""
            else:
                output.append(inp[:j])
                inp = inp[j:]
    joined = "".join(output)
    if tail and not joined:
        # the reference's buffer join always re-prefixes '/' when a
        # query/fragment survives an emptied path ('/a/..?q' → '/?q')
        joined = "/"
    return joined + tail


def _remove_dot_segments_of_path(iri: str, colon_pos: int) -> str:
    """Dot-segment removal applied only to the path part (reference
    iri_resolver.remove_dot_segments_of_path, lines 92-126)."""
    if colon_pos >= 0:
        if (
            len(iri) > colon_pos + 2
            and iri[colon_pos + 1] == "/"
            and iri[colon_pos + 2] == "/"
        ):
            search_offset = colon_pos + 3
        else:
            search_offset = colon_pos + 1
    else:
        search_offset = 2 if len(iri) > 1 and iri[0] == "/" and iri[1] == "/" else 0
    path_separator = iri.find("/", search_offset)
    if path_separator < 0:
        return iri
    return iri[:path_separator] + remove_dot_segments(iri[path_separator:])


def resolve_iri(base: str | None, rel: str) -> str:
    """Behavioral mirror of the reference's resolve ladder
    (iri_resolver.py:129-233, itself a port of the public
    relative-to-absolute-iri.js), including its deliberate non-RFC quirks:

    - a relative IRI containing a colon ANYWHERE (except when it starts
      with '#' or '?') is treated as opaque/absolute and never resolved
      against the base (iri_resolver.py:174-176), so '0#:', 'a#b:c' and
      even '//host:80/p' skip base resolution entirely;
    - a base with an authority but NO path keeps the reference's
      ``base + '/' + rel`` concatenation, preserving the relative IRI's
      own leading dot segments ('http://e' + '../up' → 'http://e/../up',
      iri_resolver.py:193-206);
    - a leading '.' (but not '..' / './') of the relative IRI is dropped
      when merging onto a non-slash-terminated base path
      (iri_resolver.py:221-228);
    - where the reference raises a bare ValueError (empty/relative
      operands with no scheme anywhere) this stays graceful and returns
      the value unresolved — same crash-divergence class as elsewhere.
    """
    if rel is None:
        rel = ""
    if base is None or base == "":
        if ":" in rel and not rel.startswith(("#", "?")):
            return _remove_dot_segments_of_path(rel, rel.find(":"))
        return rel
    frag_pos = base.find("#")
    if frag_pos > 0:
        base = base[:frag_pos]
    if rel == "":
        return base
    if rel.startswith("?"):
        q_pos = base.find("?")
        if q_pos > 0:
            base = base[:q_pos]
        return base + rel
    if rel.startswith("#"):
        return base + rel
    colon = rel.find(":")
    if colon >= 0:
        return _remove_dot_segments_of_path(rel, colon)
    b_colon = base.find(":")
    if b_colon < 0:
        return rel
    b_scheme = base[: b_colon + 1]
    if rel.startswith("//"):
        return b_scheme + _remove_dot_segments_of_path(rel, -1)
    if base.find("//", b_colon) == b_colon + 1:
        slash = base.find("/", b_colon + 3)
        if slash < 0:
            if len(base) > b_colon + 3:
                return base + "/" + _remove_dot_segments_of_path(rel, -1)
            return b_scheme + _remove_dot_segments_of_path(rel, -1)
    else:
        slash = base.find("/", b_colon + 1)
        if slash < 0:
            return b_scheme + _remove_dot_segments_of_path(rel, -1)
    if rel.startswith("/"):
        return base[:slash] + remove_dot_segments(rel)
    b_path = base[slash:]
    last_slash = b_path.rfind("/")
    if last_slash < len(b_path) - 1:
        b_path = b_path[: last_slash + 1]
        if (
            rel.startswith(".")
            and not rel.startswith("..")
            and not rel.startswith("./")
            and len(rel) > 2
        ):
            rel = rel[1:]
    return base[:slash] + remove_dot_segments(b_path + rel)


def _strip_default_port(parsed) -> str | None:
    """Authority with default http/https ports stripped (reference
    iri_resolver.parse_authority)."""
    auth = parsed.netloc or None
    try:
        port = parsed.port
    except Exception:  # noqa: BLE001 — invalid port strings
        port = None
    if (
        auth is not None
        and port is not None
        and (
            (parsed.scheme == "https" and port == 443)
            or (parsed.scheme == "http" and port == 80)
        )
    ):
        auth = auth.rsplit(":", 1)[0]
    return auth


def relativize_iri(base: str | None, iri: str) -> str:
    """Exact port of the reference's unresolve
    (iri_resolver.py:236-300), used by compaction: matching-segment
    removal, '../' per remaining base segment, './' for the empty result,
    './@...' guard, default-port-insensitive authority compare.

    One deliberate divergence: a scheme-less base raises ValueError in the
    reference (a crash at compaction time); we return the IRI unchanged.
    """
    if not base:
        return iri
    from urllib.parse import urlparse, urlunparse

    b = urlparse(base)
    if not b.scheme:
        # reference raises ValueError here — graceful divergence
        return iri
    r = urlparse(iri)
    if not (b.scheme == r.scheme and _strip_default_port(b) == _strip_default_port(r)):
        return iri

    # the reference unresolve uses the ROOTED variant (always leading
    # "/"), which changes alignment for authority-only/relative paths
    base_segments = rooted_remove_dot_segments(b.path).split("/")
    iri_segments = rooted_remove_dot_segments(r.path).split("/")
    # do not consume the last segment unless a query/fragment follows
    last = 0 if (r.fragment or r.query) else 1
    while (
        base_segments
        and len(iri_segments) > last
        and base_segments[0] == iri_segments[0]
    ):
        base_segments.pop(0)
        iri_segments.pop(0)
    rval = ""
    if base_segments:
        # the last base segment is not a path level
        base_segments.pop()
        rval += "../" * len(base_segments)
    rval += "/".join(iri_segments)
    # relative IRIs must not look like keywords
    if rval and rval[0] == "@":
        rval = "./" + rval
    return urlunparse(("", "", rval, "", r.query or "", r.fragment or "")) or "./"
