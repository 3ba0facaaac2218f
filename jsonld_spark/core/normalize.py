"""RDF dataset canonicalization (deterministic blank-node labeling).

Parity target: jsonld-java ``core/NormalizeUtils.java`` (URGNA2012
lineage — SHA-1, ``_:a``/``_:z`` self/other substitution, ``p``/``r``
direction markers, Steinhaus-Johnson-Trotter permutation search) via
``core/JsonLdApi.java:2187-2237`` (normalize). Replicated exactly for
normalize-fixture parity, including the reference's quirks:

* the first-degree hash cache is never invalidated between fixpoint
  rounds (NormalizeUtils.java:429-431,448);
* permutation groups may contain duplicate labels sharing one
  direction flag (Permutator's map keyed by value, :532-573);
* branch-and-bound pruning abandons a path only when strictly greater
  and at least as long as the chosen path (:281-296,333-346).
"""

from __future__ import annotations

import hashlib
from typing import NamedTuple

from .nodemap import BlankNodeNamer
from .nquads import escape, quad_to_nquad
from .rdf import Quad
from .context import RDF_LANGSTRING, XSD_STRING


def _sha1(data: str = "") -> "hashlib._Hash":
    h = hashlib.sha1()
    if data:
        h.update(data.encode("utf-8"))
    return h


def nquad_norm(q: Quad, self_id: str) -> str:
    """Serialize a quad in normalization mode: ``self_id`` → ``_:a``,
    other bnodes → ``_:z``, bnode graph → ``_:g``
    (RDFDatasetUtils.toNQuad with bnode param, :40-123)."""
    parts = []
    if q.subj.startswith("_:"):
        parts.append("_:a" if q.subj == self_id else "_:z")
    else:
        parts.append(f"<{escape(q.subj)}>")
    if q.pred.startswith("_:"):
        parts.append(f" {escape(q.pred)} ")
    else:
        parts.append(f" <{escape(q.pred)}> ")
    if q.obj_kind == "iri":
        parts.append(f"<{escape(q.obj_value)}>")
    elif q.obj_kind == "bnode":
        parts.append("_:a" if q.obj_value == self_id else "_:z")
    else:
        parts.append(f'"{escape(q.obj_value)}"')
        if q.obj_datatype == RDF_LANGSTRING:
            parts.append(f"@{q.obj_lang}")
        elif q.obj_datatype != XSD_STRING:
            parts.append(f"^^<{escape(q.obj_datatype)}>")
    if q.graph is not None and q.graph != "@default":
        if q.graph.startswith("_:"):
            parts.append(" _:g")
        else:
            parts.append(f" <{escape(q.graph)}>")
    parts.append(" .\n")
    return "".join(parts)


class _Permutator:
    """Steinhaus-Johnson-Trotter permutations in lexicographic start
    order, direction flags keyed by element value (duplicates share a
    flag, like the reference)."""

    def __init__(self, elements: list[str]):
        self.list = sorted(elements)
        self.done = False
        self.left = {e: True for e in self.list}

    def has_next(self) -> bool:
        return not self.done

    def next(self) -> list[str]:
        rval = list(self.list)
        k, pos = None, 0
        n = len(self.list)
        for i, element in enumerate(self.list):
            left = self.left[element]
            if (k is None or element > k) and (
                    (left and i > 0 and element > self.list[i - 1])
                    or (not left and i < n - 1 and element > self.list[i + 1])):
                k, pos = element, i
        if k is None:
            self.done = True
        else:
            swap = pos - 1 if self.left[k] else pos + 1
            self.list[pos], self.list[swap] = self.list[swap], k
            for e in self.list:
                if e > k:
                    self.left[e] = not self.left[e]
        return rval


class _HashResult(NamedTuple):
    hash: str
    path_namer: BlankNodeNamer


def _clone_namer(n: BlankNodeNamer) -> BlankNodeNamer:
    c = BlankNodeNamer(n.prefix)
    c.counter = n.counter
    c.mapping = dict(n.mapping)
    return c


def _hash_quads(bid: str, bnodes: dict, cache: dict) -> str:
    """First-degree hash: SHA-1 over the sorted normalization-mode
    serializations of all quads mentioning the bnode. Cached and never
    invalidated (reference quirk)."""
    if bid in cache:
        return cache[bid]
    lines = sorted(nquad_norm(q, bid) for q in bnodes[bid])
    md = _sha1()
    for line in lines:
        md.update(line.encode("utf-8"))
    h = md.hexdigest()
    cache[bid] = h
    return h


def _hash_paths(bid: str, bnodes: dict, namer: BlankNodeNamer,
                path_namer: BlankNodeNamer, cache: dict) -> _HashResult:
    """Hash-n-degree ('hashPaths', NormalizeUtils.java:227-413):
    group adjacent bnodes by sha1(direction+predicate+name), then for
    each group pick the lexicographically-least path over SJT
    permutations with branch-and-bound pruning, recursing into
    path-unnamed neighbors."""
    md = _sha1()
    groups: dict[str, list[str]] = {}
    for q in bnodes[bid]:
        adjacent, direction = None, None
        if q.subj.startswith("_:") and q.subj != bid:
            adjacent, direction = q.subj, "p"
        elif q.obj_kind == "bnode" and q.obj_value != bid:
            adjacent, direction = q.obj_value, "r"
        if adjacent is None:
            continue
        if namer.is_named(adjacent):
            name = namer.get(adjacent)
        elif path_namer.is_named(adjacent):
            name = path_namer.get(adjacent)
        else:
            name = _hash_quads(adjacent, bnodes, cache)
        md1 = _sha1()
        md1.update(direction.encode("utf-8"))
        md1.update(q.pred.encode("utf-8"))
        md1.update(name.encode("utf-8"))
        groups.setdefault(md1.hexdigest(), []).append(adjacent)

    for group_hash in sorted(groups):
        md.update(group_hash.encode("utf-8"))
        chosen_path: str | None = None
        chosen_namer: BlankNodeNamer | None = None
        permutator = _Permutator(groups[group_hash])
        while permutator.has_next():
            permutation = permutator.next()
            path_namer_copy = _clone_namer(path_namer)
            path = ""
            recurse: list[str] = []
            pruned = False
            for bnode in permutation:
                if namer.is_named(bnode):
                    path += namer.get(bnode)
                else:
                    if not path_namer_copy.is_named(bnode):
                        recurse.append(bnode)
                    path += path_namer_copy.get(bnode)
                if (chosen_path is not None and len(path) >= len(chosen_path)
                        and path > chosen_path):
                    pruned = True
                    break
            if not pruned:
                for bnode in recurse:
                    res = _hash_paths(bnode, bnodes, namer, path_namer_copy,
                                      cache)
                    path += path_namer_copy.get(bnode) + f"<{res.hash}>"
                    path_namer_copy = res.path_namer
                    if (chosen_path is not None
                            and len(path) >= len(chosen_path)
                            and path > chosen_path):
                        pruned = True
                        break
            if not pruned and (chosen_path is None or path < chosen_path):
                chosen_path = path
                chosen_namer = path_namer_copy
        md.update(chosen_path.encode("utf-8"))
        path_namer = chosen_namer
    return _HashResult(md.hexdigest(), path_namer)


def index_bnodes(quads: list[Quad]) -> dict[str, list[Quad]]:
    """bnode label → quads mentioning it (subject, object, graph), in
    quad order — the reference's ``bnodes`` map
    (JsonLdApi.java:2197-2225)."""
    bnodes: dict[str, list[Quad]] = {}
    for q in quads:
        for val, is_b in ((q.subj, q.subj.startswith("_:")),
                          (q.obj_value, q.obj_kind == "bnode"),
                          (q.graph, q.graph is not None
                           and q.graph.startswith("_:"))):
            if is_b:
                bnodes.setdefault(val, []).append(q)
    return bnodes


def canonical_namer(quads: list[Quad]) -> BlankNodeNamer:
    """Run the hashBlankNodes fixpoint + hashPaths passes and return the
    namer holding the ``old label → _:c14n{n}`` mapping (the naming core
    of NormalizeUtils.java:35-203, without serialization)."""
    bnodes = index_bnodes(quads)
    namer = BlankNodeNamer("c14n")
    cache: dict[str, str] = {}
    unnamed = list(bnodes.keys())

    while True:
        unique: dict[str, str] = {}
        duplicates: dict[str, list[str]] = {}
        next_unnamed: list[str] = []
        for bnode in unnamed:
            h = _hash_quads(bnode, bnodes, cache)
            if h in duplicates:
                duplicates[h].append(bnode)
                next_unnamed.append(bnode)
            elif h in unique:
                duplicates[h] = [unique[h], bnode]
                next_unnamed.append(unique[h])
                next_unnamed.append(bnode)
                del unique[h]
            else:
                unique[h] = bnode
        named = False
        for h in sorted(unique):
            namer.get(unique[h])
            named = True
        if named:
            unnamed = next_unnamed
            continue
        break

    for h in sorted(duplicates):
        results: list[_HashResult] = []
        for bnode in duplicates[h]:
            if namer.is_named(bnode):
                continue
            path_namer = BlankNodeNamer("b")
            path_namer.get(bnode)
            results.append(_hash_paths(bnode, bnodes, namer, path_namer,
                                       cache))
        results.sort(key=lambda r: r.hash)
        for r in results:
            for key in r.path_namer.mapping:  # insertion order
                namer.get(key)
    return namer


def rename_quads(quads: list[Quad], namer: BlankNodeNamer) -> list[Quad]:
    """Apply a canonical mapping to all bnode positions."""
    def rename(val: str) -> str:
        if val.startswith("_:") and not val.startswith("_:c14n"):
            return namer.get(val)
        return val

    return [Quad(
        rename(q.graph) if q.graph else q.graph,
        rename(q.subj),
        q.pred,
        q.obj_kind,
        rename(q.obj_value) if q.obj_kind == "bnode" else q.obj_value,
        q.obj_datatype, q.obj_lang) for q in quads]


def normalize_quads(quads: list[Quad]) -> list[str]:
    """Canonicalize: returns the sorted N-Quads lines (newline-terminated)
    with deterministic ``_:c14n{n}`` blank-node labels
    (JsonLdApi.normalize + NormalizeUtils.hashBlankNodes)."""
    namer = canonical_namer(quads)
    return sorted(quad_to_nquad(q) + "\n" for q in rename_quads(quads, namer))


def normalize_document(input_doc, options=None) -> str:
    """JSON-LD document → canonical N-Quads string
    (JsonLdProcessor.normalize, :627-649)."""
    from .rdf import document_to_quads
    quads = document_to_quads(input_doc, options)
    return "".join(normalize_quads(quads))
