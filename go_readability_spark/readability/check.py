"""Cheap readability pre-filter (parser-check.go:25-80).

Used both as the `readerable` output column and as the optional readerable
gate, which runs inside the extraction stage and drops a page that fails
Check before the expensive scoring (SURVEY.md §2a).
"""

from __future__ import annotations

import math

from ..dom import (
    ELEMENT,
    Node,
    class_and_id,
    get_attribute,
    iter_elements,
    node_id,
    parse_html,
    text_content,
)
from .utils import go_trim_space
from .parser import Parser
from .regexps import RX_MAYBE_CANDIDATE, RX_UNLIKELY_CANDIDATES


def check_document(doc: Node) -> bool:
    """CheckDocument: score visible p/pre/article and div>br parents with
    sqrt(byte_len - 140); readerable when the accumulator exceeds 20.
    NOTE the reference counts BYTES here (parser-check.go:72, Go len()),
    unlike the rune counts used everywhere else."""
    nodes = []
    seen_div_parents = set()
    div_parents = []
    for el in iter_elements(doc):
        if el.tag in ("p", "pre", "article"):
            nodes.append(el)
        elif el.tag == "br" and el.parent is not None and el.parent.tag == "div":
            pid = id(el.parent)
            if pid not in seen_div_parents:
                seen_div_parents.add(pid)
                div_parents.append(el.parent)
    nodes.extend(div_parents)

    score = 0.0
    for node in nodes:
        if not Parser._is_probably_visible(node):
            continue
        _cls, _nid = class_and_id(node)
        match_string = _cls + " " + _nid
        if RX_UNLIKELY_CANDIDATES.search(match_string) and not RX_MAYBE_CANDIDATE.search(match_string):
            continue
        if node.tag == "p" and Parser._has_ancestor_tag(node, "li", -1):
            continue
        node_text = go_trim_space(text_content(node))
        text_len = len(node_text.encode("utf-8"))
        if text_len < 140:
            continue
        score += math.sqrt(text_len - 140)
        if score > 20:
            return True
    return False


def check(html_source) -> bool:
    """parser-check.go:14-22."""
    return check_document(parse_html(html_source))
