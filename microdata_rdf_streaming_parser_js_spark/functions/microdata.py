"""Pure-Python HTML-Microdata -> RDF triples extractor (per document).

Executable re-implementation of the W3C Microdata-to-RDF conversion
algorithm with the exact semantics of the reference parser
(/root/reference/lib/MicrodataRdfParser.ts) — scope stacks, per-depth
predicate finalization, text buffering, itemref buffering/replay,
vocabulary expansion, and the special property-handler chain.

This module has NO Spark imports. It is the function that the
Arrow-vectorized extraction UDF applies per page
(one whole HTML document per row), and it is directly unit-testable
against the reference's golden test cases.

Blank nodes are emitted as ``_:b{n}`` with a deterministic
per-document counter in encounter order; downstream skolemization
turns them into stable global IRIs (operators/skolemize.py).
"""

from __future__ import annotations

from typing import NamedTuple

from .handlers import ITEM_PROPERTY_HANDLERS
from .registry import (
    DEFAULT_VOCAB_REGISTRY,
    RDF_NS,
    create_subject,
    create_vocab_iris,
    derive_vocab,
    get_vocabulary_expansion_type,
    split_ws,
)


class Triple(NamedTuple):
    subj: str  # IRI, or '_:bN' for blank nodes
    pred: str  # IRI
    obj: str  # IRI / blank label / literal lexical form
    obj_kind: str  # 'iri' | 'blank' | 'literal'
    obj_lang: str | None
    obj_datatype: str | None


class _ItemScope:
    """Mutable per-item state (lib/IItemScope.ts:6-28)."""

    __slots__ = ("subject", "vocab", "language", "predicates", "block_emission")

    def __init__(self, subject):
        self.subject = subject  # ('iri', v) | ('blank', label)
        self.vocab: str | None = None
        self.language: str | None = None
        # depth -> {'forward': [pred], 'reverse': [pred]}
        self.predicates: dict[int, dict[str, list[str]]] | None = None
        self.block_emission = False


# attributes with ANY observable effect in on_tag_open (reference
# handling lib/MicrodataRdfParser.ts:124-238); everything else —
# class/href/style/src/... — takes the three-push fast path
_MD_ATTRS = frozenset(
    ("id", "itemscope", "itemprop", "itemprop-reverse",
     "itemtype", "itemref", "lang", "xml:lang")
)


class MicrodataExtractor:
    """One-document extraction state machine.

    The public event API (``on_tag_open`` / ``on_text`` /
    ``on_tag_close``) mirrors the reference's entry point 3
    (README.md:88-93) so alternative tokenizers can drive it.
    """

    def __init__(self, base_iri: str = "", vocab_registry: dict | None = None):
        self.base_iri = base_iri
        self.vocab_registry = (
            vocab_registry if vocab_registry is not None else DEFAULT_VOCAB_REGISTRY
        )
        self.triples: list[Triple] = []
        self._blank_counter = 0

        self._scope_stack: list[_ItemScope | None] = []
        # parallel cache: nearest enclosing scope at each depth -> O(1)
        # lookup instead of the reference's O(depth) walk (same result)
        self._nearest_stack: list[_ItemScope | None] = []
        self._text_stack: list[list[str] | None] = []
        self._active_text_buffers = 0

        self._emitting_refs = False
        self._pending_domain: dict[str, list[_ItemScope]] = {}
        self._pending_range_collecting: dict[str, dict] = {}
        self._pending_range_final: dict[str, dict] = {}
        self._replay_id_iter = None

    # ------------------------------------------------------------------
    def _blank_node(self):
        label = f"_:b{self._blank_counter}"
        self._blank_counter += 1
        return ("blank", label)

    def _get_item_scope(self, parent: bool = False) -> _ItemScope | None:
        # nearest-scope cache; equivalent to walking the scope stack
        # past None entries (lib/MicrodataRdfParser.ts:109-115)
        nearest = self._nearest_stack
        if parent:
            return nearest[-2] if len(nearest) >= 2 else None
        return nearest[-1] if nearest else None

    def _set_text_buffer(self, depth: int, buf: list[str]) -> None:
        # JS arrays allow index == length; Python lists need an append.
        if depth == len(self._text_stack):
            self._text_stack.append(buf)
            self._active_text_buffers += 1
        else:
            if self._text_stack[depth] is None:
                self._active_text_buffers += 1
            self._text_stack[depth] = buf

    # ------------------------------------------------------------------
    def on_tag_open(self, name: str, attributes: dict[str, str]) -> None:
        # fast path: tags carrying no microdata-relevant attribute (the
        # vast majority on real crawl pages — class/href/style/... only)
        # can't open scopes, set language, or carry props/ids — only the
        # three stack pushes are observable. Must not fire while an
        # itemref range is collecting (every event must be buffered).
        if not self._pending_range_collecting and (
            not attributes or _MD_ATTRS.isdisjoint(attributes)
        ):
            self._text_stack.append(None)
            nearest = self._nearest_stack
            nearest.append(nearest[-1] if nearest else None)
            self._scope_stack.append(None)
            return

        if not self._emitting_refs:
            if "id" in attributes:
                self._pending_range_collecting[attributes["id"]] = {
                    "events": [],
                    "counter": 0,
                    "ids": [],
                }
            if self._pending_range_collecting:
                for buf in self._pending_range_collecting.values():
                    buf["counter"] += 1
                    buf["events"].append(("open", name, attributes))

        self._text_stack.append(None)

        # 1-2. Determine and push the item scope.
        if "itemscope" in attributes:
            if self._replay_id_iter is not None:
                subject = next(self._replay_id_iter, None)
            else:
                subject = None
                if "itemid" in attributes:
                    iri = create_subject(attributes["itemid"], self.base_iri)
                    if iri is not None:
                        subject = ("iri", iri)
                if subject is None:
                    subject = self._blank_node()
                for buf in self._pending_range_collecting.values():
                    buf["ids"].append(subject)
            item_scope = _ItemScope(subject)
            if self._emitting_refs:
                item_scope.block_emission = True
            parent_scope = self._get_item_scope()
            if parent_scope is not None and parent_scope.vocab:
                item_scope.vocab = parent_scope.vocab
            self._scope_stack.append(item_scope)
            self._nearest_stack.append(item_scope)
        else:
            item_scope = self._get_item_scope()
            self._scope_stack.append(None)
            self._nearest_stack.append(item_scope)

        if item_scope is not None:
            # 3-5. Item types; first valid type derives the vocab.
            if "itemtype" in attributes:
                for type_iri in create_vocab_iris(
                    attributes["itemtype"], item_scope.vocab, self.base_iri, False
                ):
                    if not item_scope.vocab:
                        item_scope.vocab = derive_vocab(type_iri, self.vocab_registry)
                    if not item_scope.block_emission:
                        self._emit(item_scope.subject, RDF_NS + "type", ("iri", type_iri))

            if "lang" in attributes:
                item_scope.language = attributes["lang"]
            if "xml:lang" in attributes:
                item_scope.language = attributes["xml:lang"]

            if (
                "itemscope" in attributes
                and not self._emitting_refs
                and "itemref" in attributes
            ):
                for reference in split_ws(attributes["itemref"]):
                    self._pending_domain.setdefault(reference, []).append(item_scope)
                    self._try_emit_references(reference, item_scope)

        # 6. Item properties (forward and reverse).
        if "itemprop" in attributes:
            self._handle_item_properties(
                attributes["itemprop"], False, item_scope, name, attributes
            )
        if "itemprop-reverse" in attributes:
            self._handle_item_properties(
                attributes["itemprop-reverse"], True, item_scope, name, attributes
            )

    def on_text(self, data: str) -> None:
        if self._pending_range_collecting and not self._emitting_refs:
            for buf in self._pending_range_collecting.values():
                buf["events"].append(("text", data))
        if self._active_text_buffers:
            for text_buffer in self._text_stack:
                if text_buffer is not None:
                    text_buffer.append(data)

    def on_tag_close(self) -> None:
        if self._pending_range_collecting and not self._emitting_refs:
            for reference, buf in list(self._pending_range_collecting.items()):
                buf["counter"] -= 1
                buf["events"].append(("close",))
                if buf["counter"] == 0:
                    self._pending_range_final[reference] = buf
                    del self._pending_range_collecting[reference]
                    self._try_emit_references(reference)

        item_scope = self._get_item_scope(parent=True)
        if item_scope is not None:
            depth = len(self._scope_stack)
            if item_scope.predicates and depth in item_scope.predicates:
                for key, predicates in list(item_scope.predicates[depth].items()):
                    obj = (
                        "literal",
                        "".join(self._text_stack[depth]),
                        item_scope.language or None,
                        None,
                    )
                    self._emit_predicate_triples(
                        item_scope, predicates, obj, key == "reverse"
                    )
                    del item_scope.predicates[depth][key]

        if self._scope_stack:
            self._scope_stack.pop()
            self._nearest_stack.pop()
        if self._text_stack:
            if self._text_stack.pop() is not None:
                self._active_text_buffers -= 1

    def on_end(self) -> None:
        pass

    # ------------------------------------------------------------------
    def _handle_item_properties(
        self, itemprop_value, reverse, item_scope, tag_name, tag_attributes
    ) -> None:
        parent_scope = self._get_item_scope(parent=True)
        if parent_scope is None:
            return
        depth = len(self._scope_stack)
        predicates = create_vocab_iris(
            itemprop_value, parent_scope.vocab, self.base_iri, True
        )
        if parent_scope.predicates is None:
            parent_scope.predicates = {}
        depth_map = parent_scope.predicates.setdefault(depth, {})
        key = "reverse" if reverse else "forward"
        depth_map[key] = predicates

        predicates.extend(
            get_vocabulary_expansion_type(
                itemprop_value, parent_scope.vocab, self.vocab_registry
            )
        )

        if item_scope is not None and "itemscope" in tag_attributes:
            # Nested item: the child's subject is the object; finalize now.
            self._emit_predicate_triples(
                parent_scope, predicates, item_scope.subject, reverse
            )
            depth_map.pop(key, None)
        else:
            for handler in ITEM_PROPERTY_HANDLERS:
                obj = handler(
                    tag_name, tag_attributes, self.base_iri, parent_scope.language
                )
                if obj is not None:
                    self._emit_predicate_triples(parent_scope, predicates, obj, reverse)
                    depth_map.pop(key, None)

        # JS parity: an EMPTY predicates array is truthy in the
        # reference's `if (predicates[depth][key])` check
        # (lib/MicrodataRdfParser.ts:412), so text is still collected
        # (and then emitted zero times) for e.g. itemprop="".
        if key in depth_map:
            self._set_text_buffer(depth, [])

    def _emit_predicate_triples(self, item_scope, predicates, obj, reverse) -> None:
        if item_scope.block_emission:
            return
        for predicate in predicates:
            if reverse:
                # Literals cannot be subjects: silently dropped
                # (lib/MicrodataRdfParser.ts:433-437).
                if obj[0] != "literal":
                    self._emit(obj, predicate, item_scope.subject)
            else:
                self._emit(item_scope.subject, predicate, obj)

    def _emit(self, subject, predicate: str, obj) -> None:
        subj = subject[1]
        if obj[0] == "literal":
            self.triples.append(
                Triple(subj, predicate, obj[1], "literal", obj[2], obj[3])
            )
        else:
            self.triples.append(Triple(subj, predicate, obj[1], obj[0], None, None))

    # ------------------------------------------------------------------
    def _try_emit_references(self, reference: str, domain_scope=None) -> None:
        rng = self._pending_range_final.get(reference)
        if rng is None:
            return
        if domain_scope is not None:
            applicable = [domain_scope]
            pend = self._pending_domain.get(reference, [])
            for i, scope in enumerate(pend):
                if scope is domain_scope:
                    del pend[i]
                    break
        else:
            applicable = self._pending_domain.pop(reference, None)
        if not applicable:
            return

        scope_stack_old = self._scope_stack
        nearest_stack_old = self._nearest_stack
        text_stack_old = self._text_stack
        active_old = self._active_text_buffers
        self._emitting_refs = True
        try:
            for item_scope in applicable:
                self._scope_stack = [item_scope]
                self._nearest_stack = [item_scope]
                self._text_stack = [None]
                self._active_text_buffers = 0
                self._replay_id_iter = iter(list(rng["ids"]))
                for event in rng["events"]:
                    kind = event[0]
                    if kind == "open":
                        self.on_tag_open(event[1], event[2])
                    elif kind == "text":
                        self.on_text(event[1])
                    else:
                        self.on_tag_close()
        finally:
            self._replay_id_iter = None
            self._scope_stack = scope_stack_old
            self._nearest_stack = nearest_stack_old
            self._text_stack = text_stack_old
            self._active_text_buffers = active_old
            self._emitting_refs = False


# ----------------------------------------------------------------------
def feed_document(html, sink, xml_mode: bool = False) -> None:
    """Decode one document (``decode_html``: bytes-like -> str; str
    and None pass through) and stream its tag events into ``sink``."""
    from .charset import decode_html

    if xml_mode:
        from .html_events import XmlTagEventParser

        tokenizer = XmlTagEventParser(sink)
    else:
        # fast regex scanner; event-stream parity with the stdlib-backed
        # HtmlTagEventParser is enforced by tests/test_fast_html.py
        from .fast_html import FastHtmlTokenizer

        tokenizer = FastHtmlTokenizer(sink)
    tokenizer.feed(decode_html(html))
    tokenizer.end()


def parse_html(
    html: str | bytes,
    base_iri: str = "",
    vocab_registry: dict | None = None,
    xml_mode: bool = False,
) -> list[Triple]:
    """Parse one HTML document into a list of triples.

    Equivalent to piping the document through the reference parser with
    ``{baseIRI: base_iri, vocabRegistry: vocab_registry, xmlMode}``.
    """
    extractor = MicrodataExtractor(base_iri, vocab_registry)
    feed_document(html, extractor, xml_mode)
    return extractor.triples


class _TextSink:
    __slots__ = ("parts",)

    def __init__(self):
        self.parts: list[str] = []

    def on_tag_open(self, name, attributes):
        pass

    def on_text(self, data):
        self.parts.append(data)

    def on_tag_close(self):
        pass

    def on_end(self):
        pass


def extract_text(html: str | bytes, xml_mode: bool = False) -> str:
    """Concatenation of all text events in document order — the
    byte-identity invariant column (`text`) of the pages table."""
    sink = _TextSink()
    feed_document(html, sink, xml_mode)
    return "".join(sink.parts)
