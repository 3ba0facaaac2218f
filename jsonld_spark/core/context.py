"""JSON-LD active-context processing.

Pure-Python implementation of the JSON-LD 1.0 Context Processing /
Create Term Definition / IRI Expansion / Value Expansion algorithms
(https://www.w3.org/TR/json-ld-api/). Behavioral parity target:
jsonld-java ``core/Context.java`` (parse :146-306, createTermDefinition
:317-495, expandIri :510-565, expandValue :1115-1152).

The ``Context`` object is immutable-in-spirit and picklable, so a parsed
context can be broadcast to Spark executors; no network I/O happens on
executors (remote contexts must be pre-resolved into the document loader's
cache driver-side).
"""

from __future__ import annotations

import copy as _copy

import json as _json
from typing import Any, Callable

from .errors import JsonLdError
from .url import is_absolute_iri, parse_iri, resolve_iri

KEYWORDS = frozenset({
    "@base", "@context", "@container", "@default", "@embed", "@explicit",
    "@graph", "@id", "@index", "@language", "@list", "@omitDefault",
    "@reverse", "@preserve", "@set", "@type", "@value", "@vocab",
    "@requireAll",
})

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDF_FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
RDF_REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
RDF_NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"
RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
XSD_BOOLEAN = "http://www.w3.org/2001/XMLSchema#boolean"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"
XSD_DOUBLE = "http://www.w3.org/2001/XMLSchema#double"
XSD_DECIMAL = "http://www.w3.org/2001/XMLSchema#decimal"


def is_keyword(value: Any) -> bool:
    return isinstance(value, str) and value in KEYWORDS


def is_relative_iri(value: str) -> bool:
    return not (is_keyword(value) or is_absolute_iri(value))


class JsonLdOptions:
    """Processing options (reference: core/JsonLdOptions.java:13-303)."""

    def __init__(
        self,
        base: str | None = None,
        expand_context: Any = None,
        compact_arrays: bool = True,
        processing_mode: str = "json-ld-1.0",
        document_loader: Callable[[str], Any] | None = None,
        use_native_types: bool = False,
        use_rdf_type: bool = False,
        produce_generalized_rdf: bool = False,
        embed: str = "@last",
        explicit: bool = False,
        omit_default: bool = False,
        omit_graph: bool = False,
        use_namespaces: bool = False,
        output_form: str | None = None,
        format: str | None = None,
    ):
        self.base = base
        self.expand_context = expand_context
        self.compact_arrays = compact_arrays
        self.processing_mode = processing_mode
        self.document_loader = document_loader
        self.use_native_types = use_native_types
        self.use_rdf_type = use_rdf_type
        self.produce_generalized_rdf = produce_generalized_rdf
        self.embed = embed
        self.explicit = explicit
        self.omit_default = omit_default
        self.omit_graph = omit_graph
        # legacy output options (JsonLdOptions.java:297-302)
        self.use_namespaces = use_namespaces
        self.output_form = output_form
        self.format = format
        self.prune_blank_node_identifiers = False
        self.allow_container_set_on_type = False
        # json-ld-1.1 mode flips (JsonLdOptions.java:248-255)
        if processing_mode == "json-ld-1.1":
            self.omit_graph = True
            self.prune_blank_node_identifiers = True
            self.allow_container_set_on_type = True

    def load_document(self, url: str) -> Any:
        if self.document_loader is None:
            raise JsonLdError(
                JsonLdError.LOADING_REMOTE_CONTEXT_FAILED,
                f"no document loader configured (executors never fetch): {url}",
            )
        try:
            return self.document_loader(url)
        except JsonLdError:
            raise
        except Exception as e:  # noqa: BLE001 - wrap as typed error
            raise JsonLdError(JsonLdError.LOADING_REMOTE_CONTEXT_FAILED, str(e)) from e


def _copy_term_def(v: dict) -> dict:
    d = dict(v)
    cont = d.get("@container")
    if isinstance(cont, (list, dict)):
        d["@container"] = _copy.deepcopy(cont)
    return d


class Context:
    """Active context: base/vocab/default-language + term definitions.

    Term definition shape (plain dict, picklable):
      {"@id": str, "@reverse": bool, "@type": str?, "@container": str?,
       "@language": str|None?}  # "@language" key present-with-None = no-language override
    """

    __slots__ = ("options", "base", "vocab", "language", "term_definitions", "_inverse")

    def __init__(self, options: JsonLdOptions | None = None):
        self.options = options or JsonLdOptions()
        self.base: str | None = self.options.base
        self.vocab: str | None = None
        self.language: str | None = None
        self.term_definitions: dict[str, dict | None] = {}
        self._inverse: dict | None = None

    def clone(self, share_inverse: bool = False) -> "Context":
        c = Context(self.options)
        c.base = self.base
        c.vocab = self.vocab
        c.language = self.language
        # full isolation from the memo entry: term definitions in this
        # engine hold only scalars (@id/@type/@reverse/@language) plus
        # possibly a list @container (create_term_definition is the
        # single writer), so one targeted list copy gives clones deep
        # isolation without a per-field type scan in this hot path
        # (clone runs once per memo hit, i.e. per document)
        c.term_definitions = {k: (_copy_term_def(v) if v is not None
                                  else None)
                              for k, v in self.term_definitions.items()}
        if share_inverse:
            # the inverse map is read-only once built (get_inverse builds
            # then only reads), so memo clones can share it instead of
            # each document rebuilding it; safe because every mutation
            # path (a further parse) goes through _parse_impl's plain
            # clone(), which drops the shared reference
            c._inverse = self._inverse
        return c

    # ------------------------------------------------------------------
    # Context Processing Algorithm (Context.java:146-306)
    # ------------------------------------------------------------------
    def parse(self, local_context: Any, remote_contexts: list[str] | None = None,
              parsing_a_remote_context: bool = False) -> "Context":
        """Context Processing with a pristine-state memo: when parsing
        starts from an empty context (the per-document case — millions
        of documents share a handful of inline contexts), the parsed
        result is cached on the options object keyed by (base, canonical
        context JSON). Each hit returns a CLONE of the memoized context
        (cheap: a handful of small dict copies) rather than the shared
        instance, so a future call site that mutates its returned
        context can only corrupt its own document, never every later
        document hitting the memo entry. The clone shares the memo
        entry's lazily-built inverse map (read-only once built), so the
        per-document inverse rebuild the memo was added to avoid stays
        avoided. Errors are never cached (failed parses re-run)."""
        if (remote_contexts is None and not parsing_a_remote_context
                and not self.term_definitions and self.vocab is None
                and self.language is None):
            memo = getattr(self.options, "_ctx_parse_memo", None)
            if memo is None:
                memo = {}
                self.options._ctx_parse_memo = memo
            try:
                key = (self.base,
                       _json.dumps(local_context, sort_keys=True))
            except (TypeError, ValueError):
                key = None
            if key is not None:
                hit = memo.get(key)
                if hit is None:
                    hit = self._parse_impl(local_context, [], False)
                    # build the inverse once on the memo entry (a small
                    # pure dict walk) so every clone shares a BUILT map
                    # instead of each first compaction rebuilding it
                    hit.get_inverse()
                    if len(memo) < 4096:
                        memo[key] = hit
                return hit.clone(share_inverse=True)
        return self._parse_impl(local_context, remote_contexts,
                                parsing_a_remote_context)

    def _parse_impl(self, local_context: Any,
                    remote_contexts: list[str] | None = None,
                    parsing_a_remote_context: bool = False) -> "Context":
        if remote_contexts is None:
            remote_contexts = []
        result = self.clone()
        contexts = local_context if isinstance(local_context, list) else [local_context]
        for context in contexts:
            if context is None:
                result = Context(self.options)
                continue
            if isinstance(context, Context):
                result = context.clone()
                continue
            if isinstance(context, str):
                # resolve relative remote-context URLs against the current
                # @base; already-absolute URLs pass through
                # (Context.java:191-196, issue #304: @base ignored for
                # remote contexts)
                if parse_iri(context).scheme is not None:
                    uri = context
                else:
                    uri = resolve_iri(result.base, context)
                if uri in remote_contexts:
                    raise JsonLdError(JsonLdError.RECURSIVE_CONTEXT_INCLUSION, uri)
                next_remote = list(remote_contexts) + [uri]
                remote_doc = self.options.load_document(uri)
                if not isinstance(remote_doc, dict) or "@context" not in remote_doc:
                    raise JsonLdError(JsonLdError.INVALID_REMOTE_CONTEXT, str(context))
                result = result.parse(remote_doc["@context"], next_remote, True)
                continue
            if not isinstance(context, dict):
                raise JsonLdError(JsonLdError.INVALID_LOCAL_CONTEXT, str(context))
            if "" in context:
                raise JsonLdError(JsonLdError.INVALID_TERM_DEFINITION,
                                  "empty key in context")
            if not parsing_a_remote_context and "@base" in context:
                value = context["@base"]
                if value is None:
                    result.base = None
                elif isinstance(value, str):
                    if is_absolute_iri(value):
                        result.base = value
                    else:
                        if result.base is None or not is_absolute_iri(result.base):
                            raise JsonLdError(JsonLdError.INVALID_BASE_IRI,
                                              str(result.base))
                        result.base = resolve_iri(result.base, value)
                else:
                    raise JsonLdError(JsonLdError.INVALID_BASE_IRI,
                                      "@base must be a string")
            if "@vocab" in context:
                value = context["@vocab"]
                if value is None:
                    result.vocab = None
                elif isinstance(value, str):
                    if is_absolute_iri(value):
                        result.vocab = value
                    else:
                        raise JsonLdError(JsonLdError.INVALID_VOCAB_MAPPING,
                                          "@vocab must be an absolute IRI")
                else:
                    raise JsonLdError(JsonLdError.INVALID_VOCAB_MAPPING,
                                      "@vocab must be a string or null")
            if "@language" in context:
                value = context["@language"]
                if value is None:
                    result.language = None
                elif isinstance(value, str):
                    result.language = value.lower()
                else:
                    raise JsonLdError(JsonLdError.INVALID_DEFAULT_LANGUAGE, str(value))
            defined: dict[str, bool] = {}
            for key in context.keys():
                if key in ("@base", "@vocab", "@language"):
                    continue
                result.create_term_definition(context, key, defined)
        return result

    # ------------------------------------------------------------------
    # Create Term Definition (Context.java:317-495)
    # ------------------------------------------------------------------
    def create_term_definition(self, context: dict, term: str,
                               defined: dict[str, bool]) -> None:
        if term in defined:
            if defined[term]:
                return
            raise JsonLdError(JsonLdError.CYCLIC_IRI_MAPPING, term)
        defined[term] = False
        if is_keyword(term) and not (
                self.options.allow_container_set_on_type and term == "@type"
                and "@id" not in str(context.get(term))):
            raise JsonLdError(JsonLdError.KEYWORD_REDEFINITION, term)
        self.term_definitions.pop(term, None)
        value = context.get(term)
        if value is None or (isinstance(value, dict) and "@id" in value
                             and value["@id"] is None):
            self.term_definitions[term] = None
            defined[term] = True
            return
        if isinstance(value, str):
            value = {"@id": value}
        if not isinstance(value, dict):
            raise JsonLdError(JsonLdError.INVALID_TERM_DEFINITION, str(value))
        definition: dict[str, Any] = {}
        if "@type" in value:
            t = value["@type"]
            if not isinstance(t, str):
                raise JsonLdError(JsonLdError.INVALID_TYPE_MAPPING, str(t))
            try:
                t = self.expand_iri(t, False, True, context, defined)
            except JsonLdError as e:
                if e.code != JsonLdError.INVALID_IRI_MAPPING:
                    raise
                raise JsonLdError(JsonLdError.INVALID_TYPE_MAPPING, t) from e
            if t in ("@id", "@vocab") or (not t.startswith("_:") and is_absolute_iri(t)):
                definition["@type"] = t
            else:
                raise JsonLdError(JsonLdError.INVALID_TYPE_MAPPING, t)
        if "@reverse" in value:
            if "@id" in value:
                raise JsonLdError(JsonLdError.INVALID_REVERSE_PROPERTY, term)
            rev = value["@reverse"]
            if not isinstance(rev, str):
                raise JsonLdError(JsonLdError.INVALID_IRI_MAPPING,
                                  "expected string for @reverse value")
            reverse = self.expand_iri(rev, False, True, context, defined)
            if not is_absolute_iri(reverse):
                raise JsonLdError(JsonLdError.INVALID_IRI_MAPPING,
                                  f"non-absolute @reverse IRI: {reverse}")
            definition["@id"] = reverse
            if "@container" in value:
                container = value["@container"]
                if container is None or container in ("@set", "@index"):
                    definition["@container"] = container
                else:
                    raise JsonLdError(
                        JsonLdError.INVALID_REVERSE_PROPERTY,
                        "reverse properties only support set- and index-containers")
            definition["@reverse"] = True
            self.term_definitions[term] = definition
            defined[term] = True
            return
        definition["@reverse"] = False
        if value.get("@id") is not None and value["@id"] != term:
            vid = value["@id"]
            if not isinstance(vid, str):
                raise JsonLdError(JsonLdError.INVALID_IRI_MAPPING,
                                  "expected value of @id to be a string")
            res = self.expand_iri(vid, False, True, context, defined)
            if is_keyword(res) or is_absolute_iri(res):
                if res == "@context":
                    raise JsonLdError(JsonLdError.INVALID_KEYWORD_ALIAS,
                                      "cannot alias @context")
                definition["@id"] = res
            else:
                raise JsonLdError(
                    JsonLdError.INVALID_IRI_MAPPING,
                    "resulting IRI mapping should be a keyword, absolute IRI "
                    "or blank node")
        elif ":" in term:
            col = term.index(":")
            prefix, suffix = term[:col], term[col + 1:]
            if prefix in context:
                self.create_term_definition(context, prefix, defined)
            if prefix in self.term_definitions:
                td = self.term_definitions[prefix]
                definition["@id"] = (td["@id"] if td else "") + suffix
            else:
                definition["@id"] = term
        elif self.vocab is not None:
            definition["@id"] = self.vocab + term
        elif term != "@type":
            raise JsonLdError(JsonLdError.INVALID_IRI_MAPPING,
                              "relative term definition without vocab mapping")
        if "@container" in value:
            container = value["@container"]
            if container not in ("@list", "@set", "@index", "@language"):
                raise JsonLdError(
                    JsonLdError.INVALID_CONTAINER_MAPPING,
                    "@container must be either @list, @set, @index, or @language")
            definition["@container"] = container
            if term == "@type":
                definition["@id"] = "type"  # Context.java:473-476 quirk
        if "@language" in value and "@type" not in value:
            lang = value["@language"]
            if lang is None or isinstance(lang, str):
                definition["@language"] = lang.lower() if lang else None
            else:
                raise JsonLdError(JsonLdError.INVALID_LANGUAGE_MAPPING,
                                  "@language must be a string or null")
        self.term_definitions[term] = definition
        defined[term] = True

    # ------------------------------------------------------------------
    # IRI Expansion (Context.java:510-565)
    # ------------------------------------------------------------------
    def expand_iri(self, value: str | None, relative: bool, vocab: bool,
                   context: dict | None = None,
                   defined: dict[str, bool] | None = None) -> str | None:
        if value is None or is_keyword(value):
            return value
        if context is not None and value in context and defined is not None \
                and defined.get(value) is not True:
            self.create_term_definition(context, value, defined)
        if vocab and value in self.term_definitions:
            td = self.term_definitions[value]
            return td["@id"] if td is not None else None
        col = value.find(":")
        if col >= 0:
            prefix, suffix = value[:col], value[col + 1:]
            if prefix == "_" or suffix.startswith("//"):
                return value
            if context is not None and prefix in context and defined is not None \
                    and defined.get(prefix) is not True:
                self.create_term_definition(context, prefix, defined)
            td = self.term_definitions.get(prefix)
            if prefix in self.term_definitions and td is not None:
                return td["@id"] + suffix
            return value
        if vocab and self.vocab is not None:
            return self.vocab + value
        if relative:
            return resolve_iri(self.base, value)
        if context is not None and is_relative_iri(value):
            raise JsonLdError(JsonLdError.INVALID_IRI_MAPPING,
                              f"not an absolute IRI: {value}")
        return value

    # ------------------------------------------------------------------
    # Value Expansion (Context.java:1115-1152)
    # ------------------------------------------------------------------
    def expand_value(self, active_property: str | None, value: Any) -> dict:
        td = self.term_definitions.get(active_property) if active_property else None
        type_mapping = td.get("@type") if td else None
        if type_mapping == "@id" and isinstance(value, str):
            return {"@id": self.expand_iri(value, True, False)}
        if type_mapping == "@vocab" and isinstance(value, str):
            return {"@id": self.expand_iri(value, True, True)}
        rval: dict[str, Any] = {"@value": value}
        if type_mapping not in (None, "@id", "@vocab"):
            rval["@type"] = type_mapping
        elif isinstance(value, str):
            if td is not None and "@language" in td:
                lang = td["@language"]
                if lang is not None:
                    rval["@language"] = lang
            elif self.language is not None:
                rval["@language"] = self.language
        return rval

    # convenience accessors --------------------------------------------
    def get_container(self, prop: str | None) -> str | None:
        """Container mapping (Context.java getContainer): @graph → @set,
        non-@type keywords → themselves, else the term's @container."""
        if prop is None:
            return None
        if prop == "@graph":
            return "@set"
        if prop != "@type" and is_keyword(prop):
            return prop
        td = self.term_definitions.get(prop)
        return td.get("@container") if td else None

    def get_type_mapping(self, prop: str | None) -> str | None:
        td = self.term_definitions.get(prop) if prop else None
        return td.get("@type") if td else None

    def get_language_mapping(self, prop: str | None) -> str | None:
        td = self.term_definitions.get(prop) if prop else None
        return td.get("@language") if td else None

    # ------------------------------------------------------------------
    # Inverse Context Creation (Context.java:909-1016)
    # ------------------------------------------------------------------
    def get_inverse(self) -> dict:
        if self._inverse is not None:
            return self._inverse
        inverse: dict[str, dict] = {}
        terms = sorted(self.term_definitions.keys(),
                       key=lambda t: (len(t), t))
        for term in terms:
            definition = self.term_definitions[term]
            if definition is None:
                continue
            container = definition.get("@container") or "@none"
            iri = definition["@id"]
            container_map = inverse.setdefault(iri, {})
            type_language_map = container_map.setdefault(
                container, {"@language": {}, "@type": {}})
            if definition.get("@reverse"):
                type_language_map["@type"].setdefault("@reverse", term)
            elif "@type" in definition:
                type_language_map["@type"].setdefault(definition["@type"], term)
            elif "@language" in definition:
                language = definition["@language"]
                if language is None:
                    language = "@null"
                type_language_map["@language"].setdefault(language, term)
            else:
                type_language_map["@language"].setdefault("@language", term)
                type_language_map["@language"].setdefault("@none", term)
                type_language_map["@type"].setdefault("@none", term)
        self._inverse = inverse
        return inverse

    # ------------------------------------------------------------------
    # Term Selection (Context.java:1031-1060)
    # ------------------------------------------------------------------
    def select_term(self, iri: str, containers: list[str], type_language: str,
                    preferred_values: list[str]) -> str | None:
        container_map = self.get_inverse().get(iri, {})
        for container in containers:
            if container not in container_map:
                continue
            value_map = container_map[container][type_language]
            for item in preferred_values:
                if item in value_map:
                    return value_map[item]
        return None

    # ------------------------------------------------------------------
    # IRI Compaction (Context.java:587-840)
    # ------------------------------------------------------------------
    def compact_iri(self, iri: str | None, value: Any = None,
                    relative_to_vocab: bool = False,
                    reverse: bool = False) -> str | None:
        if iri is None:
            return None
        if relative_to_vocab and iri in self.get_inverse():
            default_language = self.language or "@none"
            containers: list[str] = []
            type_language = "@language"
            type_language_value = "@null"
            if isinstance(value, dict) and "@index" in value:
                containers.append("@index")
            if reverse:
                type_language = "@type"
                type_language_value = "@reverse"
                containers.append("@set")
            elif isinstance(value, dict) and "@list" in value:
                if "@index" not in value:
                    containers.append("@list")
                lst = value["@list"]
                common_language = default_language if len(lst) == 0 else None
                common_type = None
                for item in lst:
                    item_language, item_type = "@none", "@none"
                    if isinstance(item, dict) and "@value" in item:
                        if "@language" in item:
                            item_language = item["@language"]
                        elif "@type" in item:
                            item_type = item["@type"]
                        else:
                            item_language = "@null"
                    else:
                        item_type = "@id"
                    if common_language is None:
                        common_language = item_language
                    elif common_language != item_language and \
                            isinstance(item, dict) and "@value" in item:
                        common_language = "@none"
                    if common_type is None:
                        common_type = item_type
                    elif common_type != item_type:
                        common_type = "@none"
                    if common_language == "@none" and common_type == "@none":
                        break
                common_language = common_language or "@none"
                common_type = common_type or "@none"
                if common_type != "@none":
                    type_language = "@type"
                    type_language_value = common_type
                else:
                    type_language_value = common_language
            else:
                if isinstance(value, dict) and "@value" in value:
                    if "@language" in value and "@index" not in value:
                        containers.append("@language")
                        type_language_value = value["@language"]
                    elif "@type" in value:
                        type_language = "@type"
                        type_language_value = value["@type"]
                else:
                    type_language = "@type"
                    type_language_value = "@id"
                containers.append("@set")
            containers.append("@none")
            if type_language_value is None:
                type_language_value = "@null"
            preferred_values: list[str] = []
            if type_language_value == "@reverse":
                preferred_values.append("@reverse")
            if type_language_value in ("@reverse", "@id") and \
                    isinstance(value, dict) and "@id" in value:
                result = self.compact_iri(value["@id"], None, True, True)
                td = self.term_definitions.get(result)
                if td is not None and "@id" in td and td["@id"] == value["@id"]:
                    preferred_values.extend(["@vocab", "@id"])
                else:
                    preferred_values.extend(["@id", "@vocab"])
            else:
                preferred_values.append(type_language_value)
            preferred_values.append("@none")
            term = self.select_term(iri, containers, type_language,
                                    preferred_values)
            if term is not None:
                return term
        if relative_to_vocab and self.vocab is not None:
            if iri.startswith(self.vocab) and iri != self.vocab:
                suffix = iri[len(self.vocab):]
                if suffix not in self.term_definitions:
                    return suffix
        compact_iri_result: str | None = None
        for term, td in self.term_definitions.items():
            if ":" in term:
                continue
            if td is None or td.get("@id") is None or td["@id"] == iri \
                    or not iri.startswith(td["@id"]):
                continue
            candidate = term + ":" + iri[len(td["@id"]):]
            # shortest-then-least candidate ranking, existing-term guard
            # (Context.java _iriCompactionStep5point4 :831-845)
            cond1 = (compact_iri_result is None
                     or (len(candidate), candidate)
                     < (len(compact_iri_result), compact_iri_result))
            cand_td = self.term_definitions.get(candidate)
            cond2 = (candidate not in self.term_definitions
                     or (cand_td is not None and cand_td.get("@id") == iri
                         and value is None))
            if cond1 and cond2:
                compact_iri_result = candidate
        if compact_iri_result is not None:
            return compact_iri_result
        if not relative_to_vocab:
            from .url import remove_base
            return remove_base(self.base, iri)
        return iri

    # ------------------------------------------------------------------
    # Value Compaction (Context.java:80-131)
    # ------------------------------------------------------------------
    def compact_value(self, active_property: str | None, value: dict) -> Any:
        number_members = len(value)
        if "@index" in value and self.get_container(active_property) == "@index":
            number_members -= 1
        if number_members > 2:
            return value
        type_mapping = self.get_type_mapping(active_property)
        language_mapping = self.get_language_mapping(active_property)
        if "@id" in value:
            if number_members == 1 and type_mapping == "@id":
                return self.compact_iri(value["@id"])
            if number_members == 1 and type_mapping == "@vocab":
                return self.compact_iri(value["@id"], None, True, False)
            return value
        value_value = value.get("@value")
        if "@type" in value and value["@type"] == type_mapping:
            return value_value
        if "@language" in value:
            if value["@language"] == language_mapping or \
                    value["@language"] == self.language:
                return value_value
        td = self.term_definitions.get(active_property)
        if number_members == 1 and (
                not isinstance(value_value, str)
                or self.language is None
                or (td is not None and "@language" in td
                    and language_mapping is None)):
            return value_value
        return value

    def get_prefixes(self, only_common_prefixes: bool) -> dict[str, str]:
        """Term defs → prefix map (Context.java:857-880). With
        ``only_common_prefixes`` keep only ids ending in '/' or '#'
        (namespace-shaped); driver-side metadata for useNamespaces
        output (SURVEY.md §2.2 T18)."""
        prefixes: dict[str, str] = {}
        for term, definition in self.term_definitions.items():
            if ":" in term or definition is None:
                continue
            iri = definition.get("@id")
            if iri is None or term.startswith("@") or iri.startswith("@"):
                continue
            if not only_common_prefixes or iri.endswith("/") \
                    or iri.endswith("#"):
                prefixes[term] = iri
        return prefixes

    def serialize(self) -> dict:
        """Active context → ``{"@context": {...}}`` JSON
        (Context.java:1150-1205; deprecated in the reference, kept for
        debugging — SURVEY.md §2.2 T19)."""
        ctx: dict[str, Any] = {}
        if self.base is not None and self.base != self.options.base:
            ctx["@base"] = self.base
        if self.language is not None:
            ctx["@language"] = self.language
        if self.vocab is not None:
            ctx["@vocab"] = self.vocab
        for term, definition in self.term_definitions.items():
            if definition is None:
                continue
            lang_absent = definition.get("@language") is None
            reverse = bool(definition.get("@reverse"))
            if (lang_absent and definition.get("@container") is None
                    and definition.get("@type") is None and not reverse):
                cid = self.compact_iri(definition.get("@id"))
                ctx[term] = definition.get("@id") if term == cid else cid
            else:
                defn: dict[str, Any] = {}
                cid = self.compact_iri(definition.get("@id"))
                if not (term == cid and not reverse):
                    defn["@reverse" if reverse else "@id"] = cid
                type_mapping = definition.get("@type")
                if type_mapping is not None:
                    defn["@type"] = type_mapping if is_keyword(type_mapping) \
                        else self.compact_iri(type_mapping, relative_to_vocab=True)
                if definition.get("@container") is not None:
                    defn["@container"] = definition["@container"]
                lang = definition.get("@language")
                if "@language" in definition and not lang_absent:
                    defn["@language"] = None if lang is False else lang
                ctx[term] = defn
        return {"@context": ctx} if ctx else {}

    def is_reverse_property(self, prop: str | None) -> bool:
        td = self.term_definitions.get(prop) if prop else None
        return bool(td and td.get("@reverse"))
