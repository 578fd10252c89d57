"""JSON-LD 1.1 Expansion (W3C JSON-LD 1.1 API §5.1-5.3).

Fresh spec implementation; behavioral parity with the reference's
_expand/_expand_object/_expand_value (/root/reference/lib/pyld/jsonld.py:
1984-2786, 3746-3818) verified in tests against the reference oracle.

Spark role (SURVEY.md §2.3): this whole module is a pure function of
(document, processed context) and runs inside the per-document runner's
Arrow batches (`operators/doc_runner.py`) —
the parallel axis is documents, never tree nodes. Dropped (non-expandable)
keys are reported through the optional ``on_dropped`` callback, which the
Spark stage wires to per-partition metric counters.
"""

from __future__ import annotations

from pyld_spark.jsonld.context import (
    Context,
    DocumentLoader,
    arrayify,
    expand_iri,
    is_keyword,
    process_context,
    UNSET,
)
from pyld_spark.jsonld.errors import JsonLdError
from pyld_spark.jsonld.iri import is_absolute_iri

#: Reference parity: when no document base is supplied, the reference resolves
#: document-relative IRIs against this synthetic base
#: (/root/reference/lib/pyld/jsonld.py:157, 6112-6115). Canonical definition
#: lives in context.py (context processing needs it too); re-exported here
#: for existing importers.
from pyld_spark.jsonld.context import DEFAULT_BASE_IRI  # noqa: E402


def is_node_object(v) -> bool:
    return isinstance(v, dict) and "@value" not in v and "@list" not in v and "@set" not in v


def is_value_object(v) -> bool:
    return isinstance(v, dict) and "@value" in v


def is_list_object(v) -> bool:
    return isinstance(v, dict) and "@list" in v


def is_graph_object(v) -> bool:
    return isinstance(v, dict) and "@graph" in v and not (
        set(v) - {"@graph", "@id", "@index", "@context"}
    )


def expand(
    document,
    *,
    context: Context,
    base_url: str | None = None,
    loader: DocumentLoader | None = None,
    frame_expansion: bool = False,
    keep_free_floating: bool = False,
    on_dropped=None,
    context_preapplied: bool = False,
) -> list:
    """Expand ``document`` against a pre-processed active ``context``.

    ``context_preapplied``: the caller already processed the DOCUMENT'S OWN
    @context into ``context`` (and stripped the key). The reference applies
    a document's @context AFTER the top-level previous-context revert check,
    so a pre-applied non-propagating context must not be reverted at the
    root — only in child nodes.

    Returns the expanded form: an array of node objects.
    """
    st = _State(loader, frame_expansion, on_dropped, keep_free_floating)
    if (
        context.base is None
        and context.original_base is None
        and not context.base_disabled
    ):
        context = context.clone()
        context.base = DEFAULT_BASE_IRI
        context.original_base = DEFAULT_BASE_IRI
    expanded = _expand(
        st, context, None, document, base_url, from_map=context_preapplied
    )
    if isinstance(expanded, dict) and set(expanded) == {"@graph"}:
        expanded = expanded["@graph"]
    if expanded is None:
        return []
    return [e for e in arrayify(expanded)]


class _State:
    __slots__ = ("loader", "frame", "on_dropped", "keep_free_floating")

    def __init__(self, loader, frame, on_dropped, keep_free_floating=False):
        self.loader = loader
        self.frame = frame
        self.on_dropped = on_dropped
        self.keep_free_floating = keep_free_floating


def _dropped(st: _State, key: str) -> None:
    if st.on_dropped is not None:
        st.on_dropped(key)


_CACHE_MISS = object()
_FAST_BAIL = object()


def _ctx_fast_eligible(active_ctx: Context) -> bool:
    """True when no term in the context carries a scoped context — then a
    node's expansion can never change the active context mid-node (no
    type-scoped or property-scoped application, no revert), which is the
    gate for the plain-node fast path. Computed once per context object."""
    cache = active_ctx._rt_cache
    v = cache.get(("fast-ok",))
    if v is None:
        v = all(t.context is UNSET for t in active_ctx.terms.values())
        cache[("fast-ok",)] = v
    return v


def _compile_fast_key(active_ctx: Context, key: str):
    """Per-(context, key) dispatch for the fast path. Mirrors the
    _expand_keys dispatch exactly; anything with non-plain behavior
    (keywords other than literal @id/@type, containers, @reverse, @nest,
    @json coercion, property index) routes back to the general algorithm."""
    if key == "@context":
        return ("bail",)
    ep = _expand_key_iri(active_ctx, key)
    # keep rule is _is_absolute_iri, NOT colon-containment (reference
    # jsonld.py:2307): "v:x y" or ":suf" expand to themselves but are
    # dropped here because the absolute-IRI regex rejects whitespace /
    # empty schemes
    if ep is None or not (
        (isinstance(ep, str) and is_absolute_iri(ep)) or is_keyword(ep)
    ):
        return ("drop",)
    if ep == "@id" and key == "@id":
        return ("id",)
    if ep == "@type" and key == "@type":
        return ("type",)
    if is_keyword(ep):
        return ("bail",)
    tdef = active_ctx.terms.get(key)
    if tdef is not None and (
        tdef.container
        or tdef.reverse
        or tdef.nest
        or tdef.type == "@json"
        or tdef.context is not UNSET
        or tdef.index
    ):
        return ("bail",)
    # resolve the whole _expand_value ladder once per (context, key): the
    # type mapping and effective language/direction are key-level constants,
    # so scalar values can be wrapped inline without re-walking the ladder
    t = tdef.type if tdef is not None else None
    if t == "@id" or t == "@vocab":
        mode = "iri"  # string values become {"@id": ...}; keep general call
    elif t not in (None, "@none"):
        mode = "typed"
    else:
        mode = "plain"
    lang = (
        tdef.language
        if tdef is not None and tdef.language is not UNSET
        else active_ctx.default_language
    )
    direc = (
        tdef.direction
        if tdef is not None and tdef.direction is not UNSET
        else active_ctx.default_direction
    )
    return ("p", ep, mode, t, lang, direc)


_SCALARS = (str, int, float, bool)


def _fast_expand_node(st: _State, active_ctx: Context, element: dict):
    """Specialized expansion for plain literal nodes — dicts whose keys are
    literal @id/@type plus simple terms/vocab properties with scalar (or
    flat scalar-list) values. This is the shape of every turn node in the
    transcript corpus, so the per-node cost drops from a dozen interpreter
    frames to one dispatch-cached loop. Returns _FAST_BAIL whenever any
    key or value needs the general algorithm — values produced here are
    byte-identical to the general path by construction (the same
    _expand_value / expand_iri calls, the same drop rules)."""
    cache = active_ctx._rt_cache
    fd = cache.get(("fastd",))
    if fd is None:
        fd = {}
        cache[("fastd",)] = fd
        cache[("fastt",)] = {}
    tcache = cache[("fastt",)]

    result: dict = {}
    dropped = None  # deferred: a later bail must not double-fire the hook
    for key in sorted(element):
        disp = fd.get(key)
        if disp is None:
            disp = _compile_fast_key(active_ctx, key)
            fd[key] = disp
        kind = disp[0]
        value = element[key]
        if kind == "p":
            if value is None:
                continue
            if isinstance(value, _SCALARS):
                vals = (value,)
            elif isinstance(value, list):
                ok = True
                for v in value:
                    if v is not None and not isinstance(v, _SCALARS):
                        ok = False
                        break
                if not ok:
                    return _FAST_BAIL
                vals = value
            else:
                return _FAST_BAIL
            # inline the compiled _expand_value ladder (see
            # _compile_fast_key): "plain"/"typed" wrap the scalar directly —
            # identical key order (@value, @type / @language, @direction) to
            # the general path; "iri" (type @id/@vocab) keeps the exact
            # general-path call since it IRI-expands string values
            out = result.setdefault(disp[1], [])
            mode = disp[2]
            if mode == "plain":
                lang, direc = disp[4], disp[5]
                if lang is None and direc is None:
                    for v in vals:
                        if v is not None:
                            out.append({"@value": v})
                else:
                    for v in vals:
                        if v is None:
                            continue
                        if isinstance(v, str):
                            ev = {"@value": v}
                            if lang is not None:
                                ev["@language"] = lang
                            if direc is not None:
                                ev["@direction"] = direc
                            out.append(ev)
                        else:
                            out.append({"@value": v})
            elif mode == "typed":
                t = disp[3]
                for v in vals:
                    if v is not None:
                        out.append({"@value": v, "@type": t})
            else:
                for v in vals:
                    if v is not None:
                        out.append(_expand_value(active_ctx, key, v))
        elif kind == "id":
            if not isinstance(value, str):
                return _FAST_BAIL
            result["@id"] = expand_iri(active_ctx, value, document_relative=True)
        elif kind == "type":
            if isinstance(value, str):
                vals = (value,)
            elif isinstance(value, list) and all(
                isinstance(v, str) for v in value
            ):
                vals = value
            else:
                return _FAST_BAIL
            ex = []
            for t in vals:
                e = tcache.get(t, _CACHE_MISS)
                if e is _CACHE_MISS:
                    e = expand_iri(
                        active_ctx, t, vocab=True, document_relative=True
                    )
                    tcache[t] = e
                if e is None:
                    # None-expanded types need the general add_value
                    # semantics (single → 'invalid type value')
                    return _FAST_BAIL
                ex.append(e)
            result["@type"] = ex
        elif kind == "drop":
            if dropped is None:
                dropped = []
            dropped.append(key)
        else:  # bail
            return _FAST_BAIL
    if dropped:
        for key in dropped:
            _dropped(st, key)
    return result


def _expand_key_iri(active_ctx: Context, key: str):
    """Memoized expand_iri(key, vocab=True) — the expansion hot path runs it
    for every key of every node against a small set of shared contexts."""
    cache = active_ctx._rt_cache
    v = cache.get(key, _CACHE_MISS)
    if v is _CACHE_MISS:
        v = expand_iri(active_ctx, key, vocab=True)
        cache[key] = v
    return v


def _expand(st: _State, active_ctx: Context, active_property, element, base_url,
            from_map=False, inside_list=False):
    if element is None:
        return None
    frame = st.frame
    if active_property == "@default":
        frame = False
        st = _State(st.loader, False, st.on_dropped, st.keep_free_floating)

    defn = active_ctx.terms.get(active_property) if active_property else None
    property_scoped = defn.context if defn is not None and defn.context is not UNSET else UNSET
    # the reference computes expanded_active_property against the INCOMING
    # context, before scoped/local contexts apply (jsonld.py:2053, 2063)
    ap_iri = (
        _expand_key_iri(active_ctx, active_property)
        if active_property is not None
        else None
    )

    if not isinstance(element, (dict, list)):
        # scalar: free-floating unless inside a list (jsonld.py:2051-2057)
        if not inside_list and (active_property is None or ap_iri == "@graph"):
            return None
        if property_scoped is not UNSET:
            active_ctx = process_context(
                active_ctx, property_scoped, defn.context_base,
                loader=st.loader, override_protected=True,
            )
        return _expand_value(active_ctx, active_property, element)

    if isinstance(element, list):
        result = []
        container = defn.container if defn is not None else ()
        # nested arrays inside a list become nested @list objects
        # (jsonld.py:2025-2041)
        inside_list = inside_list or "@list" in container
        for item in element:
            expanded = _expand(
                st, active_ctx, active_property, item, base_url, from_map,
                inside_list,
            )
            if inside_list and isinstance(expanded, list):
                expanded = {"@list": expanded}
            if isinstance(expanded, list):
                result.extend(x for x in expanded if x is not None)
            elif expanded is not None:
                result.append(expanded)
        return result

    # --- map ---
    # plain-literal-node fast path: no frame, no context switches possible
    # (no scoped terms anywhere in the context, no revert pending, no local
    # @context) — the hot shape of the transcript kernel
    if (
        not frame
        and active_ctx.previous is None
        and "@context" not in element
        and _ctx_fast_eligible(active_ctx)
    ):
        fast = _fast_expand_node(st, active_ctx, element)
        if fast is not _FAST_BAIL:
            # same free-floating tail as the general path below
            if not inside_list and (active_property is None or ap_iri == "@graph"):
                if not st.keep_free_floating:
                    if not fast or set(fast) == {"@id"}:
                        return None
            return fast

    # revert term-scoped context unless starting a value object / single-@id ref
    if (
        active_ctx.previous is not None
        and not from_map
        and not any(_expand_key_iri(active_ctx, k) == "@value" for k in element)
        and not (
            len(element) == 1
            and _expand_key_iri(active_ctx, next(iter(element))) == "@id"
        )
    ):
        active_ctx = active_ctx.previous

    if property_scoped is not UNSET:
        active_ctx = process_context(
            active_ctx, property_scoped, defn.context_base,
            loader=st.loader, override_protected=True,
        )

    if "@context" in element:
        local_ctx = element["@context"]
        if isinstance(local_ctx, dict) and set(local_ctx) == {"@context"}:
            # {"@context": {"@context": ...}} (reference jsonld.py:2802-2813)
            raise JsonLdError(
                "keywords cannot be overridden", "keyword redefinition"
            )
        active_ctx = process_context(
            active_ctx, local_ctx, base_url, loader=st.loader
        )

    # type-scoped contexts
    type_scoped_ctx = active_ctx
    input_type = None
    for key in sorted(element):
        if _expand_key_iri(active_ctx, key) == "@type":
            values = arrayify(element[key])
            for term in sorted(v for v in values if isinstance(v, str)):
                tdef = type_scoped_ctx.terms.get(term)
                # a NULL type-scoped context is SKIPPED in expansion
                # (reference _prepare_nested_context checks
                # `ctx is not False`, jsonld.py:2836) — unlike null
                # property-scoped contexts, which nullify, and unlike
                # compaction, where null type-scoped contexts nullify too
                if (
                    tdef is not None
                    and tdef.context is not UNSET
                    and tdef.context is not None
                ):
                    active_ctx = process_context(
                        active_ctx, tdef.context, tdef.context_base,
                        loader=st.loader, propagate=False,
                    )
            if values:
                last = values[-1]
                if isinstance(last, str):
                    input_type = expand_iri(active_ctx, last, vocab=True)

    result: dict = {}
    nests: list = []
    _expand_keys(
        st, active_ctx, type_scoped_ctx, active_property, element, result,
        nests, base_url, input_type, frame,
    )
    _process_nests(st, nests, active_property, result, base_url, frame)

    # --- post-processing ---
    if "@value" in result:
        allowed = {"@value", "@type", "@language", "@direction", "@index"}
        if set(result) - allowed:
            raise JsonLdError(
                f"invalid value object keys: {sorted(set(result) - allowed)}",
                "invalid value object",
            )
        if "@type" in result and ("@language" in result or "@direction" in result):
            raise JsonLdError("@type with @language/@direction", "invalid value object")
        if "@type" in result and result["@type"] is None:
            # null @type on a value object is dropped (jsonld.py:2171-2173)
            del result["@type"]
        _t = result.get("@type")
        _types = _t if isinstance(_t, list) else ([_t] if "@type" in result else [])
        if _types != ["@json"]:
            value = result["@value"]
            if value is None or (isinstance(value, list) and not value):
                return None if not frame else result
            # reference jsonld.py:2186-2198: each @value entry must be a
            # string or an empty-object wildcard when language-tagged
            vals = value if isinstance(value, list) else [value]
            if "@language" in result and not all(
                isinstance(x, str) or (isinstance(x, dict) and not x) for x in vals
            ):
                raise JsonLdError(
                    "@language on non-string @value", "invalid language-tagged value"
                )
            if "@type" in result:
                if not frame and isinstance(_t, list):
                    # non-frame @type on a value object must be a string
                    # (reference jsonld.py:2159-2170)
                    raise JsonLdError(
                        f"invalid @type in value object: {_t!r}", "invalid typed value"
                    )
                # reference jsonld.py:2199-2212: empty-object wildcard or an
                # absolute non-blank-node IRI
                if not all(
                    (isinstance(x, dict) and not x)
                    or (
                        isinstance(x, str)
                        and is_absolute_iri(x)
                        and not x.startswith("_:")
                    )
                    for x in _types
                ):
                    raise JsonLdError(
                        f"invalid @type in value object: {_t!r}", "invalid typed value"
                    )
            if not isinstance(value, (str, int, float, bool)) and not frame:
                raise JsonLdError("@value must be scalar", "invalid value object value")
        if (
            not inside_list
            and (active_property is None or ap_iri == "@graph")
            and not frame
            and not st.keep_free_floating
        ):
            return None  # free-floating value object
        return result

    if "@type" in result:
        # the bare `'@type' in rval` guard (reference jsonld.py:2213) means
        # an ALREADY-LIST @type (e.g. merged from two aliased @type keys)
        # still routes here and SKIPS the @set/@list validation below
        if result["@type"] is None:
            raise JsonLdError(
                "@type value must be a string or array of strings",
                "invalid type value",
            )
        if not isinstance(result["@type"], list):
            result["@type"] = [result["@type"]]
    elif "@set" in result or "@list" in result:
        # reference jsonld.py:2224-2231: at most ONE other property and it
        # must be @index — so @set alongside @list is also invalid
        if len(result) > 1 and not (len(result) == 2 and "@index" in result):
            raise JsonLdError(
                "set/list object with extra keys", "invalid set or list object"
            )
        if "@set" in result:
            return result["@set"] if result["@set"] != [] or frame else []

    if isinstance(result, dict):
        if len(result) == 1 and "@language" in result:
            return None
        # reference jsonld.py:2246-2257: keepFreeFloatingNodes skips the
        # whole drop block — even the empty object survives
        if not inside_list and (active_property is None or ap_iri == "@graph"):
            if not frame and not st.keep_free_floating:
                if not result or "@value" in result or "@list" in result:
                    return None
                if set(result) == {"@id"}:
                    return None
    return result


def _expand_keys(
    st, active_ctx, type_scoped_ctx, active_property, element, result,
    nests, base_url, input_type, frame,
):
    for key in sorted(element):
        if key == "@context":
            continue
        value = element[key]
        expanded_property = _expand_key_iri(active_ctx, key)
        # drop rule mirrors reference jsonld.py:2307: the expanded property
        # must be an ABSOLUTE IRI (whitespace-free, real scheme or '_') or
        # a keyword — plain colon-containment keeps too much
        if expanded_property is None or not (
            (isinstance(expanded_property, str) and is_absolute_iri(expanded_property))
            or is_keyword(expanded_property)
        ):
            _dropped(st, key)
            continue

        if is_keyword(expanded_property):
            if active_property is not None and (
                _expand_key_iri(active_ctx, active_property) == "@reverse"
            ):
                raise JsonLdError(
                    "keyword inside @reverse map", "invalid reverse property map"
                )
            if expanded_property in result and expanded_property not in ("@included", "@type"):
                raise JsonLdError(
                    f"colliding keyword: {expanded_property}", "colliding keywords"
                )
            handled = _expand_keyword(
                st, active_ctx, type_scoped_ctx, active_property, key, value,
                expanded_property, result, nests, base_url, input_type, frame,
            )
            if handled:
                continue
            # keywords with no specific branch (framing keywords, @none,
            # @preserve, @base/@vocab/..., @included in 1.0 mode) fall
            # through the GENERIC property path below — recursed with the
            # key as active property and added arrayified (reference
            # jsonld.py:2648-2727; _expand_value keeps raw scalars under
            # keyword properties, jsonld.py:3787-3788)

        defn = active_ctx.terms.get(key)
        container = defn.container if defn is not None else ()

        # container-map branches take precedence over @json coercion for
        # OBJECT values (reference dispatch order, jsonld.py:2607-2667:
        # the @json check lives in the final else)
        if "@language" in container and isinstance(value, dict):
            expanded_value = _expand_language_map(
                _term_scoped(st, active_ctx, defn), active_ctx, defn, value
            )
        elif ({"@index", "@type", "@id"}.intersection(container)) and isinstance(value, dict):
            expanded_value = _expand_index_map(
                st, active_ctx, _term_scoped(st, active_ctx, defn),
                key, defn, container, value, base_url,
            )
        elif defn is not None and defn.type == "@json":
            expanded_value = {"@value": value, "@type": "@json"}
        else:
            expanded_value = _expand(st, active_ctx, key, value, base_url)

        if expanded_value is None:
            continue

        if "@list" in container and not is_list_object(expanded_value):
            expanded_value = {"@list": arrayify(expanded_value)}

        if "@graph" in container and "@id" not in container and "@index" not in container:
            expanded_value = [
                v if is_graph_object(v) else {"@graph": arrayify(v)}
                for v in arrayify(expanded_value)
            ]

        # the reverse check consults the TERM-SCOPED mapping (reference
        # jsonld.py:2700) — a null scoped context on a reverse term erases
        # the mapping and the value lands as a FORWARD property under the
        # already-computed expanded property
        rdefn = defn
        if defn is not None and defn.context is not UNSET:
            rdefn = _term_scoped(st, active_ctx, defn).terms.get(key)
        if rdefn is not None and rdefn.reverse:
            reverse_map = result.setdefault("@reverse", {})
            for item in arrayify(expanded_value):
                if is_value_object(item) or is_list_object(item):
                    raise JsonLdError(
                        "reverse value must be node", "invalid reverse property value"
                    )
                reverse_map.setdefault(expanded_property, []).append(item)
        else:
            result.setdefault(expanded_property, []).extend(arrayify(expanded_value))


def _expand_keyword(
    st, active_ctx, type_scoped_ctx, active_property, key, value,
    expanded_property, result, nests, base_url, input_type, frame,
) -> bool:
    """Handle keyword keys with a specific expansion branch. Returns True
    when the key was fully handled; False when the caller should route it
    through the generic property path (reference parity: keywords without
    a dedicated branch fall through, jsonld.py:2648-2727)."""
    if expanded_property == "@id":
        if isinstance(value, str):
            expanded = expand_iri(active_ctx, value, document_relative=True)
            # frame expansion arrayifies @id (reference add_value
            # propertyIsArray=isFrame, jsonld.py:2337-2382) — the relational
            # pre-filter's @id pruning relies on the list form too
            result["@id"] = [expanded] if frame else expanded
        elif frame and (
            value == {} or (isinstance(value, list) and all(isinstance(v, str) for v in value))
        ):
            if value == {}:
                result["@id"] = [{}]
            else:
                result["@id"] = [
                    expand_iri(active_ctx, v, document_relative=True) for v in value
                ]
        else:
            raise JsonLdError("@id must be a string", "invalid @id value")
        return True
    if expanded_property == "@type":
        def _ex(t):
            return expand_iri(type_scoped_ctx, t, vocab=True, document_relative=True)

        if value is None:
            # reference jsonld.py:2384-2392: a null @type passes through the
            # keyword step; value objects drop it, node objects raise later.
            # Frame expansion arrayifies (add_value propertyIsArray=isFrame).
            if "@type" in result:
                result["@type"] = arrayify(result["@type"]) + [None]
            else:
                result["@type"] = [None] if frame else None
            return True
        if isinstance(value, str):
            expanded_values = [_ex(value)]
        elif isinstance(value, list) and all(isinstance(v, str) for v in value):
            expanded_values = [_ex(v) for v in value]
        elif frame and isinstance(value, dict):
            if value == {}:
                expanded_values = [value]
            elif set(value) == {"@default"}:
                expanded_values = [{"@default": [
                    _ex(v) for v in arrayify(value["@default"])
                ]}]
            else:
                raise JsonLdError("invalid @type frame pattern", "invalid type value")
        else:
            raise JsonLdError("@type must be string(s)", "invalid type value")
        # add_value(parent, '@type', values, propertyIsArray=isFrame)
        # emulation (reference jsonld.py:2419-2428): a SINGLE None-expanded
        # type stays scalar and the post-check raises 'invalid type value';
        # two or more become a plain list and survive. An EMPTY array is
        # kept (as the match-none frame pattern) only under propertyIsArray,
        # i.e. frame expansion (reference add_value, jsonld.py:1195-1201).
        if not expanded_values and frame and "@type" not in result:
            result["@type"] = []
        for ev in expanded_values:
            if "@type" not in result:
                result["@type"] = [ev] if frame else ev
            else:
                existing = result["@type"]
                if not isinstance(existing, list):
                    existing = [existing]
                result["@type"] = existing + [ev]
        return True
    if expanded_property == "@included":
        if active_ctx.processing_mode == "json-ld-1.0":
            # 1.0: @included is not special — generic fallthrough
            # (reference jsonld.py:2430-2431 gate)
            return False
        # reference jsonld.py:2430-2449: the all-nodes check runs BEFORE any
        # None filtering — a dropped value (e.g. a value object) is an error
        expanded_included = _expand(st, active_ctx, active_property, value, base_url)
        included = (
            expanded_included
            if isinstance(expanded_included, list)
            else [expanded_included]
        )
        if not all(
            # reference _is_subject (jsonld.py:6412-6428): a bare {"@id"}
            # subject REFERENCE is not a subject — @included rejects it
            is_node_object(v) and (len(v) > 1 or "@id" not in v)
            for v in included
        ):
            raise JsonLdError("@included values must be nodes", "invalid @included value")
        result.setdefault("@included", []).extend(included)
        return True
    if expanded_property == "@graph":
        if not isinstance(value, (dict, list)):
            raise JsonLdError(
                "@graph must be an object or an array", "invalid @graph value"
            )
        # validation only; expansion happens in the generic path
        # (reference jsonld.py:2453-2464 has no continue)
        return False
    if expanded_property == "@value":
        if input_type == "@json" and active_ctx.processing_mode != "json-ld-1.0":
            result["@value"] = value
        elif frame:
            # frame expansion arrayifies @value and keeps null — a [null]
            # pattern matches nothing, NOT a wildcard (reference
            # jsonld.py:2465-2475, add_value propertyIsArray=isFrame)
            result["@value"] = value if isinstance(value, list) else [value]
        elif value is None or isinstance(value, (str, int, float, bool)):
            result["@value"] = value
        elif isinstance(value, list) and not value:
            # add_value of an empty array adds NOTHING (reference
            # jsonld.py:1195-1203), so the array-shape validation at
            # jsonld.py:2732 never sees a "@value" key: the key silently
            # vanishes and the remaining keys expand as a plain node object
            pass
        else:
            raise JsonLdError("@value must be scalar/null", "invalid value object value")
        return True
    if expanded_property == "@language":
        if value is None:
            # null @language expands as if absent (reference
            # jsonld.py:2480-2483)
            return True
        if not isinstance(value, str) and not frame:
            raise JsonLdError("@language must be a string", "invalid language-tagged string")
        vals = value if isinstance(value, list) else [value]
        vals = [v.lower() if isinstance(v, str) else v for v in vals]
        # frame expansion arrayifies (reference jsonld.py:2491-2502)
        result["@language"] = vals if frame else vals[0]
        return True
    if expanded_property == "@direction":
        # validated and kept in ALL processing modes (the reference branch
        # has no mode gate, jsonld.py:2505-2528)
        if not isinstance(value, str) and not frame:
            raise JsonLdError("@direction must be ltr/rtl", "invalid base direction")
        vals = value if isinstance(value, list) else [value]
        if any(isinstance(v, str) and v not in ("ltr", "rtl") for v in vals):
            raise JsonLdError("@direction must be ltr/rtl", "invalid base direction")
        result["@direction"] = vals if frame else vals[0]
        return True
    if expanded_property == "@index":
        if isinstance(value, str):
            result["@index"] = value
        else:
            raise JsonLdError("@index must be a string", "invalid @index value")
        return True
    if expanded_property == "@list":
        # reference jsonld.py:2648-2659: recurse with inside_list=True (so
        # nested arrays become nested @list objects); under @graph the next
        # active property is None; a None expansion drops the key; free-
        # floating / extra-key handling happens in post-processing.
        next_ap = active_property
        if active_property is not None and (
            _expand_key_iri(active_ctx, active_property) == "@graph"
        ):
            next_ap = None
        expanded = _expand(
            st, active_ctx, next_ap, value, base_url, inside_list=True
        )
        if expanded is not None:
            result.setdefault("@list", []).extend(arrayify(expanded))
        return True
    if expanded_property == "@set":
        expanded = _expand(st, active_ctx, active_property, value, base_url)
        if expanded is not None:
            result.setdefault("@set", []).extend(arrayify(expanded))
        return True
    if expanded_property == "@reverse":
        if not isinstance(value, dict):
            raise JsonLdError("@reverse must be a map", "invalid @reverse value")
        expanded = _expand(st, active_ctx, "@reverse", value, base_url)
        if isinstance(expanded, dict) and "@reverse" in expanded:
            for prop, items in expanded["@reverse"].items():
                result.setdefault(prop, []).extend(arrayify(items))
        if isinstance(expanded, dict):
            reverse_map = None
            for prop, items in expanded.items():
                if prop == "@reverse":
                    continue
                if reverse_map is None:
                    reverse_map = result.setdefault("@reverse", {})
                # the reference seeds every reversed property with an empty
                # array before adding items (add_value(reverse_map, prop,
                # [], propertyIsArray=True), jsonld.py:2572-2574) — so a
                # property whose values all vanished (empty type/index map,
                # frame wildcards) still appears as "prop": []
                reverse_map.setdefault(prop, [])
                for item in arrayify(items):
                    if is_value_object(item) or is_list_object(item):
                        raise JsonLdError(
                            "reverse value must be node", "invalid reverse property value"
                        )
                    reverse_map.setdefault(prop, []).append(item)
        return True
    if expanded_property == "@nest":
        # collection only — validation happens when nests are PROCESSED
        # (reference jsonld.py:2599-2601, 2750-2786), so errors from other
        # keys of this node (e.g. colliding keywords) win over an invalid
        # @nest value. The nest term's scoped context travels along.
        nests.append(
            (value, _term_scoped(st, active_ctx, active_ctx.terms.get(key)))
        )
        return True
    # every other keyword (@default/@embed/@explicit/@omitDefault/
    # @requireAll/@none/@preserve/@base/@vocab/@version/...) has no specific
    # branch in the reference — generic fallthrough: recursed with the key
    # as active property (scalars kept raw by _expand_value) and added
    # arrayified (reference jsonld.py:2648-2727)
    return False


def _process_nests(st, nests, active_property, result, base_url, frame):
    """Nested values merge into the current node with the nest term's
    scoped context active and their own local/type-scoped context prep
    (reference jsonld.py:2750-2786). Depth-first: each nested value is
    fully expanded (including its own nests) before the next."""
    for value, term_ctx in nests:
        # reference arrayify wraps bare None as [None] (jsonld.py:1412), so
        # a null nest value is a VALIDATION error, not an empty collection
        for nv in (value if isinstance(value, list) else [value]):
            if not isinstance(nv, dict):
                raise JsonLdError(
                    "nested value must be a node object", "invalid @nest value"
                )
            active_ctx = term_ctx
            if "@context" in nv:
                local_ctx = nv["@context"]
                if isinstance(local_ctx, dict) and set(local_ctx) == {"@context"}:
                    raise JsonLdError(
                        "keywords cannot be overridden", "keyword redefinition"
                    )
                active_ctx = process_context(
                    active_ctx, local_ctx, base_url, loader=st.loader
                )
            type_scoped_ctx = active_ctx
            input_type = None
            for key in sorted(nv):
                if _expand_key_iri(active_ctx, key) == "@type":
                    values = arrayify(nv[key])
                    for term in sorted(
                        v for v in values if isinstance(v, str)
                    ):
                        tdef = type_scoped_ctx.terms.get(term)
                        if (
                            tdef is not None
                            and tdef.context is not UNSET
                            and tdef.context is not None
                        ):
                            active_ctx = process_context(
                                active_ctx, tdef.context, tdef.context_base,
                                loader=st.loader, propagate=False,
                            )
                    if values:
                        last = values[-1]
                        if isinstance(last, str):
                            input_type = expand_iri(active_ctx, last, vocab=True)
            # the @value check runs AFTER context prep (reference
            # jsonld.py:2764-2773)
            if any(_expand_key_iri(active_ctx, k) == "@value" for k in nv):
                raise JsonLdError(
                    "nested value must be a node object", "invalid @nest value"
                )
            sub_nests: list = []
            _expand_keys(
                st, active_ctx, type_scoped_ctx, active_property, nv, result,
                sub_nests, base_url, input_type, frame,
            )
            _process_nests(st, sub_nests, active_property, result, base_url, frame)


def _term_scoped(st: _State, active_ctx: Context, defn) -> Context:
    """Apply the term's scoped context for container-map handling
    (reference jsonld.py:2590-2597) — a NULL scoped context nullifies
    here, erasing e.g. a custom @index definition."""
    if defn is None or defn.context is UNSET:
        return active_ctx
    return process_context(
        active_ctx, defn.context, defn.context_base,
        loader=st.loader, override_protected=True,
    )


def _expand_language_map(term_ctx: Context, active_ctx: Context, defn, value: dict) -> list:
    result = []
    direction = defn.direction if defn.direction is not UNSET else active_ctx.default_direction
    for lang in sorted(value):
        items = arrayify(value[lang])
        # language keys expand in the TERM-SCOPED context (reference
        # _expand_language_map receives term_ctx, jsonld.py:2612)
        expanded_lang = expand_iri(term_ctx, lang, vocab=True)
        for item in items:
            if item is None:
                continue
            if not isinstance(item, str):
                raise JsonLdError(
                    "language map values must be strings", "invalid language map value"
                )
            obj = {"@value": item}
            if expanded_lang != "@none":
                obj["@language"] = lang.lower()
            if direction:
                obj["@direction"] = direction
            result.append(obj)
    return result


def _expand_index_map(st, active_ctx, term_ctx, key, defn, container, value, base_url):
    result = []
    # the custom @index key is looked up in the TERM-SCOPED context
    # (reference jsonld.py:2615) — a null scoped context erases the term
    # and its custom index, reverting to plain @index
    tdefn = term_ctx.terms.get(key)
    index_key = tdefn.index if tdefn is not None and tdefn.index else "@index"
    is_property_index = "@index" in container and index_key != "@index"
    property_index = None
    if is_property_index:
        # reference quirk (jsonld.py:2619-2623): the index property is
        # vocab-expanded only when a non-empty API base option is set
        # (`vocab=options.get('base', '')`) — with no base the raw term
        # string is used as the output key; expanded in the OUTER context
        # (call-site jsonld.py:2620, before the map context is derived)
        property_index = expand_iri(active_ctx, index_key, vocab=bool(base_url))
    # effective index key + map base context, per the reference's dispatch
    # (jsonld.py:2613-2645): @index and @id maps expand keys AND values
    # under the TERM-SCOPED context; @type maps start from its
    # previous-context revert
    if "@index" in container:
        eff_index_key = index_key
        map_ctx = term_ctx
    elif "@id" in container:
        eff_index_key = "@id"
        map_ctx = term_ctx
    else:
        eff_index_key = "@type"
        map_ctx = term_ctx.previous if term_ctx.previous is not None else term_ctx
    for index in sorted(value):
        items = value[index]
        if eff_index_key == "@type":
            # a @type-map KEY with its own type-scoped context mutates the
            # map context CUMULATIVELY — later (sorted) keys see it
            # (reference jsonld.py:3673-3680, propagate=False)
            idef = map_ctx.terms.get(index)
            if idef is not None and idef.context is not UNSET:
                map_ctx = process_context(
                    map_ctx, idef.context, idef.context_base,
                    loader=st.loader, propagate=False,
                )
        expanded_index = expand_iri(map_ctx, index, vocab=True)
        expanded_items = _expand(st, map_ctx, key, arrayify(items), base_url, from_map=True)
        def _require_object(item):
            # a non-object item reaching an index-key assignment only
            # arises from frame-mode value patterns; the reference dies
            # with a bare TypeError here (jsonld.py:3724-3741) — this
            # engine raises the spec error instead so a poison doc
            # quarantines rather than killing the stage (documented
            # graceful divergence, soak wave N+8). Items that need no
            # assignment (index key @none) pass through untouched in
            # BOTH engines and are not guarded.
            if not isinstance(item, dict):
                raise JsonLdError(
                    "invalid item inside an index container",
                    "invalid value object",
                )

        for item in arrayify(expanded_items):
            if item is None:
                continue
            if "@graph" in container and not is_graph_object(item):
                item = {"@graph": arrayify(item)}
            if eff_index_key == "@type":
                if expanded_index != "@none":
                    _require_object(item)
                    item["@type"] = [expanded_index] + arrayify(item.get("@type"))
            elif (
                is_value_object(item)
                # substring semantics, as in the reference
                and "@language" not in eff_index_key
                and "@type" not in eff_index_key
                and "@index" not in eff_index_key
            ):
                raise JsonLdError(
                    f"illegal key on value object: {eff_index_key}",
                    "invalid value object",
                )
            elif is_property_index:
                # a literal '@none' key adds nothing (jsonld.py:3691-3692,
                # 3731-3739)
                if index != "@none":
                    _require_object(item)
                    re_expanded = _expand_value(map_ctx, index_key, index)
                    existing = arrayify(item.get(property_index))
                    item[property_index] = [re_expanded] + existing
            elif expanded_index != "@none":
                # mirror the reference's `in` semantics exactly: dict key
                # test, but SUBSTRING test on a string item (a string
                # containing the index key is appended raw, no crash —
                # jsonld.py:3740)
                contains = (
                    eff_index_key in item
                    if isinstance(item, (dict, str))
                    else False
                )
                if not contains:
                    _require_object(item)
                    if eff_index_key == "@id":
                        item["@id"] = expand_iri(
                            map_ctx, index, document_relative=True
                        )
                    else:
                        item[eff_index_key] = index
            result.append(item)
    return result


def _expand_value(active_ctx: Context, active_property, value):
    """Value Expansion (JSON-LD 1.1 API §5.3.2; reference _expand_value
    ladder, jsonld.py:3746-3818)."""
    if value is None:
        return None
    ep = (
        _expand_key_iri(active_ctx, active_property)
        if active_property is not None
        else None
    )
    # @id/@type keys: the value is expanded as an IRI, not wrapped
    if ep == "@id" and isinstance(value, str):
        return expand_iri(active_ctx, value, document_relative=True)
    if ep == "@type" and isinstance(value, str):
        return expand_iri(active_ctx, value, vocab=True, document_relative=True)

    defn = active_ctx.terms.get(active_property)
    type_mapping = defn.type if defn is not None else None

    if (type_mapping == "@id" or ep == "@graph") and isinstance(value, str):
        return {"@id": expand_iri(active_ctx, value, document_relative=True)}
    if type_mapping == "@vocab" and isinstance(value, str):
        return {"@id": expand_iri(active_ctx, value, vocab=True, document_relative=True)}

    # do not expand values under keyword properties (@embed/@explicit/
    # @default/@none/@preserve/... keep raw scalars, jsonld.py:3787-3788)
    if ep is not None and is_keyword(ep):
        return value

    result = {"@value": value}
    if type_mapping not in (None, "@id", "@vocab", "@none"):
        result["@type"] = type_mapping
    elif isinstance(value, str):
        language = (
            defn.language
            if defn is not None and defn.language is not UNSET
            else active_ctx.default_language
        )
        direction = (
            defn.direction
            if defn is not None and defn.direction is not UNSET
            else active_ctx.default_direction
        )
        if language is not None:
            result["@language"] = language
        if direction is not None:
            result["@direction"] = direction
    return result
