"""N-Quads serialization/parsing (behavioral parity:
/root/reference/lib/pyld/nquads.py).

Pure string functions. The Spark-side source/sink
(pyld_spark.sources.nquads_io) uses the same regex column-wise via
``regexp_extract`` / expression chains; these functions are the in-UDF and
driver-side path and the test oracle glue.
"""

from __future__ import annotations

import re

from pyld_spark.jsonld.rdf import RDF_LANGSTRING, XSD_STRING

_ESCAPES = [
    ("\\", "\\\\"),
    ("\t", "\\t"),
    ("\n", "\\n"),
    ("\r", "\\r"),
    ('"', '\\"'),
]


def escape(s: str) -> str:
    for raw, esc in _ESCAPES:
        s = s.replace(raw, esc)
    return s


_UNESCAPE_RE = re.compile(r"\\(?:u([0-9A-Fa-f]{4})|U([0-9A-Fa-f]{8})|(.))")


def unescape(s: str) -> str:
    # single left-to-right pass: '\\u0007' is an escaped backslash followed
    # by literal 'u0007', NOT a unicode escape — two-phase substitution
    # would corrupt it
    def repl(m):
        if m.group(1):
            return chr(int(m.group(1), 16))
        if m.group(2):
            return chr(int(m.group(2), 16))
        c = m.group(3)
        # the strict literal grammar (_PLAIN) only admits valid ECHARs, so
        # the .get fallback is unreachable from the parse paths; kept for
        # direct callers handed non-grammar text
        return {"t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f",
                '"': '"', "\\": "\\", "'": "'"}.get(c, c)

    return _UNESCAPE_RE.sub(repl, s)


def serialize_term(term: dict) -> str:
    t = term["type"]
    if t == "IRI":
        return f"<{term['value']}>"
    if t == "blank node":
        return term["value"]
    # literal
    out = '"' + escape(term["value"]) + '"'
    dt = term.get("datatype", XSD_STRING)
    if dt == RDF_LANGSTRING:
        if term.get("language"):
            out += "@" + term["language"]
    elif dt and dt != XSD_STRING:
        out += f"^^<{dt}>"
    return out


def serialize_quad(quad) -> str:
    subj, pred, obj, graph = quad
    line = f"{serialize_term(subj)} {serialize_term(pred)} {serialize_term(obj)}"
    if graph and graph != "@default":
        gterm = graph if graph.startswith("_:") else f"<{graph}>"
        line += f" {gterm}"
    return line + " .\n"


def serialize_quads(quads) -> str:
    """Sorted canonical serialization (full-string sort, like the reference's
    to_nquads). At corpus scale this global sort exists only for conformance
    output — the Spark sink sorts per partition instead."""
    return "".join(sorted(serialize_quad(q) for q in quads))


_IRI = r"(?:<([^:]+:[^>]*)>)"
_BNODE = r"(_:(?:[A-Za-z0-9]+(?:[A-Za-z0-9\.\-_]*[A-Za-z0-9\-_])?))"
# STRING_LITERAL_QUOTE body per the W3C N-Quads grammar: only ECHAR
# ([tbnrf"'\]) and UCHAR (\uXXXX / \UXXXXXXXX) escapes are valid — an
# unknown escape like \q fails the match and the line is rejected
# (spec-strict; the reference parser instead keeps it raw — documented
# divergence, same class as its \uXXXX non-decoding)
_PLAIN = r'"((?:[^"\\]|\\[tbnrf"\'\\]|\\u[0-9A-Fa-f]{4}|\\U[0-9A-Fa-f]{8})*)"'
_DATATYPE = rf"(?:\^\^{_IRI.replace('(', '(?:', 1).replace('([^:]+:[^>]*)', '([^:]+:[^>]*)')})"
_LANGUAGE = r"(?:@([a-zA-Z]+(?:-[a-zA-Z0-9]+)*))"
_LITERAL = rf"(?:{_PLAIN}(?:\^\^<([^:]+:[^>]*)>|@([a-zA-Z]+(?:-[a-zA-Z0-9]+)*))?)"
_WS = r"[ \t]+"
_WSO = r"[ \t]*"

_QUAD_RE = re.compile(
    rf"^{_WSO}(?:{_IRI}|{_BNODE}){_WS}{_IRI}{_WS}"
    rf"(?:{_IRI}|{_BNODE}|{_LITERAL})"
    rf"(?:{_WS}(?:{_IRI}|{_BNODE}))?{_WSO}\.{_WSO}$"
)
_EMPTY_RE = re.compile(r"^[ \t]*(?:#.*)?$")


def parse_term_groups(g) -> tuple[dict, dict, dict, str]:
    (s_iri, s_bn, p_iri, o_iri, o_bn, o_lit, o_dt, o_lang, g_iri, g_bn) = g
    if s_iri is not None:
        subj = {"type": "IRI", "value": s_iri}
    else:
        subj = {"type": "blank node", "value": s_bn}
    pred = {"type": "IRI", "value": p_iri}
    if o_iri is not None:
        obj = {"type": "IRI", "value": o_iri}
    elif o_bn is not None:
        obj = {"type": "blank node", "value": o_bn}
    else:
        obj = {"type": "literal", "value": unescape(o_lit)}
        if o_lang is not None:
            obj["datatype"] = RDF_LANGSTRING
            obj["language"] = o_lang
        else:
            obj["datatype"] = o_dt if o_dt is not None else XSD_STRING
    if g_iri is not None:
        graph = g_iri
    elif g_bn is not None:
        graph = g_bn
    else:
        graph = "@default"
    return subj, pred, obj, graph


_EOL_RE = re.compile(r"[\r\n]+")


def parse_nquads(text: str) -> list:
    """N-Quads document → list of quads. Lines end at any run of CR and LF
    (the grammar's ``EOL ::= [#xD#xA]+``), so a raw CR inside a string
    literal ends its line and fails it. Duplicate quads per graph are
    dropped (reference nquads.py:126-134; Spark path: dropDuplicates)."""
    quads = []
    seen = set()
    for i, line in enumerate(_EOL_RE.split(text)):
        if _EMPTY_RE.match(line):
            continue
        m = _QUAD_RE.match(line)
        if m is None:
            raise ValueError(f"invalid N-Quads line {i + 1}: {line!r}")
        quad = parse_term_groups(m.groups())
        key = serialize_quad(quad)
        if key in seen:
            continue
        seen.add(key)
        quads.append(quad)
    return quads
