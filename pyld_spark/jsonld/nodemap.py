"""Node Map Generation + Flattening (W3C JSON-LD 1.1 API §7, flattening spec).

The tree→graph pivot: expanded form → ``{graph → {subject → node}}``.
Reference parity: _create_node_map / _flatten
(/root/reference/lib/pyld/jsonld.py:4108-4307, 2845-2875).

Spark role (SURVEY.md §2.4): documents are independent, so the node map is
built per document inside the pandas UDF and then exploded to rows; blank
node labels are doc-local (``_:b0...``) and namespaced with the document hash
when a corpus-global table is materialized.
"""

from __future__ import annotations

from pyld_spark.jsonld.context import KEYWORDS, arrayify, is_keyword
from pyld_spark.jsonld.errors import JsonLdError


class IdentifierIssuer:
    """Deterministic blank-node relabeling (``prefix`` + counter).

    First-encounter order is preserved in ``order`` — load-bearing for
    URDNA2015 (reference: /root/reference/lib/pyld/identifier_issuer.py).
    """

    def __init__(self, prefix: str = "_:b"):
        self.prefix = prefix
        self.counter = 0
        self.issued: dict[str, str] = {}
        self.order: list[str] = []

    def get_id(self, old: str | None = None) -> str:
        if old is not None and old in self.issued:
            return self.issued[old]
        new_id = f"{self.prefix}{self.counter}"
        self.counter += 1
        if old is not None:
            self.issued[old] = new_id
            self.order.append(old)
        return new_id

    def has_id(self, old: str) -> bool:
        return old in self.issued

    def clone(self) -> "IdentifierIssuer":
        c = IdentifierIssuer(self.prefix)
        c.counter = self.counter
        c.issued = dict(self.issued)
        c.order = list(self.order)
        return c


def _is_value(v) -> bool:
    return isinstance(v, dict) and "@value" in v


def compare_values(v1, v2) -> bool:
    """JSON-LD equality (reference: jsonld.py:1279-1326): strict primitives
    (bool is not int), value-object tuples, @id equality."""
    if type(v1) is bool or type(v2) is bool:
        return type(v1) is type(v2) and v1 == v2
    if v1 == v2 and not isinstance(v1, (dict, list)) and not isinstance(v2, (dict, list)):
        return True
    if _is_value(v1) and _is_value(v2):
        a, b = v1.get("@value"), v2.get("@value")
        if type(a) is bool or type(b) is bool:
            values_equal = type(a) is type(b) and a == b
        else:
            values_equal = a == b  # plain equality — @json values may be
            # lists/dicts and must compare structurally, not via recursion
        return (
            values_equal
            and v1.get("@type") == v2.get("@type")
            and v1.get("@language") == v2.get("@language")
            and v1.get("@index") == v2.get("@index")
        )
    if (
        isinstance(v1, dict) and "@id" in v1
        and isinstance(v2, dict) and "@id" in v2
    ):
        return v1["@id"] == v2["@id"]
    return False


def add_value(subject: dict, prop: str, value, allow_duplicate: bool = True) -> None:
    existing = subject.setdefault(prop, [])
    if not allow_duplicate:
        # explicit loop, not any(genexpr): this is the hottest helper in the
        # node-map walk and the generator frame per call dominates for the
        # common 0/1-element lists
        for v in existing:
            if compare_values(v, value):
                return
    existing.append(value)


def has_property(subject: dict, prop: str) -> bool:
    """Reference JsonLdProcessor.has_property (jsonld.py:1115-1130)."""
    value = subject.get(prop)
    if value is None:
        return False
    return len(value) > 0 if isinstance(value, list) else True


def get_values(subject: dict, prop: str) -> list:
    v = subject.get(prop)
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


def has_value(subject: dict, prop: str, value) -> bool:
    """Reference JsonLdProcessor.has_value (jsonld.py:1131-1167): @list
    values are unwrapped; an array ``value`` never matches a single
    stored value."""
    if not has_property(subject, prop):
        return False
    val = subject[prop]
    if isinstance(val, dict) and "@list" in val:
        val = val["@list"]
    if isinstance(val, list):
        return any(compare_values(value, v) for v in val)
    if not isinstance(value, list):
        return compare_values(value, val)
    return False


def remove_property(subject: dict, prop: str) -> None:
    subject.pop(prop, None)


def remove_value(subject: dict, prop: str, value,
                 property_is_array: bool = False) -> None:
    remaining = [v for v in get_values(subject, prop) if not compare_values(v, value)]
    if not remaining:
        remove_property(subject, prop)
    elif len(remaining) == 1 and not property_is_array:
        subject[prop] = remaining[0]
    else:
        subject[prop] = remaining


_FAST_NO_TYPE = object()  # distinguishes absent @type from @type: None


def create_node_map(
    element,
    node_map: dict,
    issuer: IdentifierIssuer,
    active_graph: str = "@default",
    active_subject=None,
    active_property: str | None = None,
    list_: dict | None = None,
) -> None:
    """Node Map Generation. Mutates ``element`` (callers pass fresh expanded
    output) and fills ``node_map[graph][subject]``."""
    if isinstance(element, list):
        for item in element:
            create_node_map(
                item, node_map, issuer, active_graph, active_subject,
                active_property, list_,
            )
        return
    if not isinstance(element, dict):
        return

    graph = node_map.setdefault(active_graph, {})

    if "@type" in element:
        types = arrayify(element["@type"])
        new_types = [
            issuer.get_id(t) if isinstance(t, str) and t.startswith("_:") else t
            for t in types
        ]
        element["@type"] = new_types if isinstance(element["@type"], list) else new_types[0]

    # a free-floating value/list inside a named graph has no subject node to
    # attach to — the reference drops it silently (jsonld.py:4146-4198,
    # `elif subject_node:` guards)
    subject_node = (
        graph.get(active_subject) if isinstance(active_subject, str) else None
    )

    if "@value" in element:
        if list_ is None:
            if subject_node is not None:
                add_value(subject_node, active_property, element, allow_duplicate=False)
        else:
            list_["@list"].append(element)
        return

    if "@list" in element:
        result = {"@list": []}
        create_node_map(
            element=element["@list"], node_map=node_map, issuer=issuer,
            active_graph=active_graph, active_subject=active_subject,
            active_property=active_property, list_=result,
        )
        if list_ is None:
            if subject_node is not None:
                add_value(subject_node, active_property, result)
        else:
            list_["@list"].append(result)
        return

    # node object
    if "@id" in element:
        id_ = element.pop("@id")
        if id_ is None or (isinstance(id_, str) and id_.startswith("_:")):
            id_ = issuer.get_id(id_)
    elif "@set" in element:
        # reference _is_bnode (jsonld.py:678-691): an object with no @id
        # but an @set key (expansion garbage reachable only via @nest) is
        # NOT a blank node — it lands under key None in the node map, and
        # its value-object properties silently drop (no string subject to
        # attach to). Mirrored for parity; soak wave N+12.
        id_ = None
    else:
        id_ = issuer.get_id(None)

    node = graph.setdefault(id_, {"@id": id_})

    if isinstance(active_subject, dict):
        # reverse property: add active_subject (a reference map) under property
        add_value(node, active_property, active_subject, allow_duplicate=False)
    elif active_property is not None:
        reference = {"@id": id_}
        if list_ is None:
            # reference jsonld.py:4216-4224: the back-reference attaches
            # only when the parent subject is a string (a None-keyed @set
            # parent has no subject to hold it)
            if isinstance(active_subject, str):
                subject_node = graph[active_subject]
                add_value(
                    subject_node, active_property, reference,
                    allow_duplicate=False,
                )
        else:
            list_["@list"].append(reference)

    if "@type" in element:
        for t in arrayify(element.pop("@type")):
            add_value(node, "@type", t, allow_duplicate=False)

    if "@index" in element:
        idx = element.pop("@index")
        if "@index" in node and node["@index"] != idx:
            raise JsonLdError("conflicting @index values", "conflicting indexes")
        node["@index"] = idx

    if "@reverse" in element:
        referenced = {"@id": id_}
        reverse_map = element.pop("@reverse")
        for prop, values in reverse_map.items():
            for value in values:
                create_node_map(
                    element=value, node_map=node_map, issuer=issuer,
                    active_graph=active_graph, active_subject=referenced,
                    active_property=prop,
                )

    if "@graph" in element:
        inner = element.pop("@graph")
        node_map.setdefault(id_, {})
        create_node_map(
            element=inner, node_map=node_map, issuer=issuer, active_graph=id_
        )

    if "@included" in element:
        inner = element.pop("@included")
        create_node_map(
            element=inner, node_map=node_map, issuer=issuer, active_graph=active_graph
        )

    # "@id" was unconditionally popped above, so element's remaining keys
    # can be sorted directly (no filtering genexpr on the hot path)
    for prop in sorted(element):
        values = element[prop]
        if prop == "@index":
            continue
        if prop in KEYWORDS and prop != "@type":
            # framing keywords etc. are copied through
            node[prop] = values
            continue
        if prop.startswith("_:"):
            prop = issuer.get_id(prop)
        if id_ is None:
            # None-keyed @set node: reference records only EMPTY property
            # arrays on it (jsonld.py:4285-4287); non-empty values recurse
            # with no string subject, so value objects and back-references
            # drop while child NODES still enter the graph
            if not values:
                node.setdefault(prop, [])
            else:
                create_node_map(values, node_map, issuer, active_graph, id_, prop)
            continue
        node.setdefault(prop, [])
        # pure-literal fast path: a list of value objects needs none of the
        # recursion machinery — each lands via the same add_value call the
        # @value branch would make (subject_node there IS this node)
        if isinstance(values, list):
            # explicit loop, not all(genexpr) — per-property genexpr frames
            # were a measurable share of the node-map walk
            fast = True
            for v in values:
                if not (isinstance(v, dict) and "@value" in v and "@list" not in v):
                    fast = False
                    break
                t = v.get("@type", _FAST_NO_TYPE)
                if t is not _FAST_NO_TYPE and (
                    not isinstance(t, str) or t.startswith("_:")
                ):
                    fast = False
                    break
            if fast:
                # inlined add_value(allow_duplicate=False): one call frame
                # per VALUE is a measurable share of the walk
                existing = node[prop]
                for v in values:
                    for e in existing:
                        if compare_values(e, v):
                            break
                    else:
                        existing.append(v)
                continue
        create_node_map(
            values, node_map, issuer, active_graph, id_, prop,
        )


def build_node_map(expanded: list, issuer: IdentifierIssuer | None = None) -> dict:
    issuer = issuer or IdentifierIssuer("_:b")
    node_map: dict = {"@default": {}}
    create_node_map(element=expanded, node_map=node_map, issuer=issuer)
    return node_map


def merge_node_map_graphs(node_map: dict) -> dict:
    """Union all graphs into ``@merged`` (framing support; reference
    jsonld.py:4309-4337)."""
    merged: dict = {}
    # no relabeling: build_node_map used a single issuer, so bnode labels are
    # already unique across graphs (and references inside values share them)
    for name in _sort_ids(node_map):
        graph = node_map[name]
        for id_ in _sort_ids(graph):
            node = graph[id_]
            m = merged.setdefault(id_, {"@id": id_})
            for prop, values in node.items():
                if prop == "@id":
                    continue
                # @type merges as an array union like any property — a node
                # typed differently across graphs keeps ALL its types
                # (reference jsonld.py:4325-4327: only non-@type keywords
                # are copied wholesale)
                if prop != "@type" and is_keyword(prop):
                    m[prop] = values
                    continue
                for v in values:
                    add_value(m, prop, v, allow_duplicate=False)
    return {"@merged": merged}


def _sort_ids(keys) -> list:
    """Sort subject/graph keys, tolerating the None key a no-@id @set node
    produces (the reference's plain sorted() crashes on None-vs-str — we
    stay graceful and order None first)."""
    return sorted(keys, key=lambda k: (k is not None, k if k is not None else ""))


def flatten(expanded: list) -> list:
    """Flattening Algorithm: expanded form → flat array of subject nodes."""
    node_map = build_node_map(expanded)
    default_graph = node_map["@default"]
    for graph_name in _sort_ids(k for k in node_map if k != "@default"):
        entry = default_graph.setdefault(graph_name, {"@id": graph_name})
        graph = node_map[graph_name]
        entry.setdefault("@graph", [])
        for id_ in _sort_ids(graph):
            node = graph[id_]
            if not (set(node) == {"@id"}):
                entry["@graph"].append(node)
    return [
        default_graph[id_]
        for id_ in _sort_ids(default_graph)
        if set(default_graph[id_]) != {"@id"}
    ]
