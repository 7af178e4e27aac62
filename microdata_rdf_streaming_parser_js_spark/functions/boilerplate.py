"""Boilerplate removal / main-content extraction (pure Python — no
Spark imports; runs inside the Arrow UDF and locally for the oracle).

A simplified jusText/Boilerpipe block classifier over the SAME
single-pass tokenizer event stream the extractor uses (one parse per
page, shared normalization): character data is grouped into blocks at
block-level element boundaries, each block gets (text length, anchor
text length), and a block survives iff it is long enough AND its link
density (anchor chars / text chars) is low enough. Navigation bars,
footers, and link farms are short and link-dense; article prose is
long and link-sparse — the two-feature classifier the original
Boilerpipe paper (Kohlschuetter et al., WSDM 2010) found does most of
the work.

Determinism contract (cross-engine oracle requirement): link density
compares as the exact integer floor(anchor_chars * 1e6 / text_chars);
block text is whitespace-normalized with str.split() semantics; kept
blocks join with a single newline. Text inside <script>/<style> is
never content.
"""

from __future__ import annotations

# block-level boundaries: opening or closing one of these flushes the
# current text run into a block (a pragmatic HTML5 flow-content list)
BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li td th blockquote pre article section
    header footer aside nav main table ul ol tr dl dd dt figure
    figcaption form fieldset hr body html head title br""".split()
)

# character data inside these elements is invisible, never content
_SUPPRESS_TAGS = frozenset(("script", "style", "noscript", "template"))

_SCALE = 1_000_000


class _BlockListener:
    """Tokenizer listener grouping text into (text, n_chars,
    n_anchor_chars) blocks; tag-close events are unnamed so it mirrors
    the element stack itself (open/close events are balanced by the
    tokenizer's void/implied-close normalization)."""

    __slots__ = ("blocks", "_stack", "_parts", "_anchor_depth",
                 "_suppress_depth", "_anchor_chars")

    def __init__(self) -> None:
        self.blocks: list[tuple[str, int, int]] = []
        self._stack: list[str] = []
        self._parts: list[str] = []
        self._anchor_depth = 0
        self._suppress_depth = 0
        self._anchor_chars = 0

    def _flush(self) -> None:
        text = " ".join("".join(self._parts).split())
        if text:
            self.blocks.append((text, len(text), self._anchor_chars))
        self._parts = []
        self._anchor_chars = 0

    def on_tag_open(self, name, attributes) -> None:
        if name in BLOCK_TAGS:
            self._flush()
        if name == "a":
            self._anchor_depth += 1
        if name in _SUPPRESS_TAGS:
            self._suppress_depth += 1
        self._stack.append(name)

    def on_text(self, data) -> None:
        if self._suppress_depth:
            return
        self._parts.append(data)
        if self._anchor_depth:
            # anchor length uses the same normalization as block length
            self._anchor_chars += len(" ".join(data.split()))

    def on_tag_close(self) -> None:
        name = self._stack.pop() if self._stack else ""
        if name == "a" and self._anchor_depth:
            self._anchor_depth -= 1
        if name in _SUPPRESS_TAGS and self._suppress_depth:
            self._suppress_depth -= 1
        if name in BLOCK_TAGS:
            self._flush()

    def on_end(self) -> None:
        self._flush()


def extract_main_content(
    url: str,
    html,
    min_block_chars: int = 25,
    max_link_density_u: int = 330_000,
) -> tuple:
    """Pure per-page kernel: one tokenizer pass -> classified blocks.

    Returns (url, main_text, n_blocks, n_content_blocks, error):
    ``main_text`` is the newline-join of blocks with
    ``len >= min_block_chars`` and integer link density
    ``floor(anchor*1e6/len) <= max_link_density_u`` ('' if none);
    counts cover all non-empty blocks. On parse failure every payload
    field is None and ``error`` carries 'Type: message' (the same
    quarantine contract as extraction).
    """
    from .charset import decode_html
    from .microdata import feed_document

    html = decode_html(html)  # decode errors raise; parse errors quarantine
    try:
        listener = _BlockListener()
        feed_document(html, listener)  # the tokenizer's end() calls on_end()
        kept = [
            text
            for (text, n, anchor) in listener.blocks
            if n >= min_block_chars
            and (anchor * _SCALE) // n <= max_link_density_u
        ]
        n_kept = len(kept)
        return (url, "\n".join(kept), len(listener.blocks), n_kept, None)
    except Exception as exc:  # noqa: BLE001 — quarantine, never poison the batch
        return (url, None, None, None, f"{type(exc).__name__}: {exc}")
