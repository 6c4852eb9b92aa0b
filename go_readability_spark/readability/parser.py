"""The Arc90/readability extraction core.

A brand-new Python implementation of the algorithm implemented by
go-shiori/go-readability (itself a port of Mozilla Readability.js).
Behavior contracts are cited as parser.go / parser-parse.go line ranges in
`/root/reference/`; no code is translated mechanically — the DOM layer,
traversal and data structures are this package's own.

Per-node readability state (content score, data-table marker) is kept as
``data-readability-*`` attributes exactly like the reference
(parser.go:2235-2282) because the %.4f round-trip quantization of scores is
observable in candidate ordering, and because attribute-based state must
survive the per-attempt document clone (parser.go:768).

One deliberate deviation from the reference: the retry sieve
(parser.go:1196-1249) skips a retry that would replay the attempt just run.
Each sieve flag has one reader, and an attempt records which of them
decided something. A retry whose flag decided nothing, in an attempt that
left the byline unchanged, would run the same operations on the same clone,
so it is skipped; the output is the same bytes (see ``_grab_article``).
The sieve also skips the retries left once an attempt holds all of the
body's text, which no later attempt can exceed.
"""

from __future__ import annotations

import math
import re as _re
from dataclasses import dataclass, field
from datetime import datetime

from ..dom import (
    ELEMENT,
    TEXT,
    Node,
    body_element,
    class_and_id,
    class_name,
    create_element,
    create_text,
    document_element,
    get_attribute,
    get_elements_by_tag_name,
    has_attribute,
    inner_html,
    node_id,
    parse_html,
    remove_attribute,
    set_attribute,
    text_content,
)
from . import regexps as rx
from .metadata import (
    get_article_metadata,
    get_article_title,
    get_inner_text,
    get_jsonld,
    parse_date,
)
from .utils import char_count, go_fields, go_trim_space, text_similarity, to_absolute_uri

# \Z, not $: Python's $ matches before a trailing newline, so "5\n" would
# pass — strconv.Atoi rejects it
_ATOI_RX = _re.compile(r"^[+-]?[0-9]+\Z")


def _atoi(s) -> int:
    """strconv.Atoi parity for span attributes (parser.go:1811-1841):
    optional sign + ASCII digits ONLY. Python's int() also accepts
    surrounding whitespace, underscores, and Unicode digits — all of which
    Go rejects, flipping data-table marking on sloppy markup. Returns 0 on
    error, matching the call sites' err fallback."""
    if s and _ATOI_RX.match(s):
        return int(s)
    return 0


def _WS_ONLY(s: str) -> bool:
    return not go_trim_space(s)


_PRESENTATIONAL_SET = frozenset(rx.PRESENTATIONAL_ATTRIBUTES)
_PRESENTATIONAL_PLUS_SIZE = _PRESENTATIONAL_SET | {"width", "height"}

# the retry sieve turns these Flags off one per retry, in this order
_SIEVE_FLAGS = ("strip_unlikelys", "use_weight_classes", "clean_conditionally")

_CLEAN_COND_TAGS = frozenset(
    ("ul", "ol", "p", "img", "li", "input", "object", "embed", "iframe",
     "h1", "h2", "h3", "h4", "h5", "h6")
)


@dataclass
class Article:
    """Output record mirroring the reference Article struct
    (parser.go:80-94); `node` is dropped at the Spark boundary."""

    title: str = ""
    byline: str = ""
    content: str = ""
    text_content: str = ""
    length: int = 0
    excerpt: str = ""
    site_name: str = ""
    image: str = ""
    favicon: str = ""
    language: str = ""
    published_time: datetime | None = None
    modified_time: datetime | None = None
    node: Node | None = None


@dataclass
class Flags:
    strip_unlikelys: bool = True
    use_weight_classes: bool = True
    clean_conditionally: bool = True


@dataclass
class Parser:
    """Configuration surface mirroring parser.go:97-144."""

    max_elems_to_parse: int = 0
    n_top_candidates: int = 5
    char_thresholds: int = 500
    classes_to_preserve: tuple = ("page",)
    keep_classes: bool = False
    tags_to_score: tuple = ("section", "h2", "h3", "h4", "h5", "h6", "p", "td", "pre")
    disable_jsonld: bool = False
    allowed_video_regex: object = None
    # parser.go:113-114 Debug flag: when True, removal/scoring decisions
    # are reported through the stdlib `logging` module (logger
    # "go_readability_spark.readability", INFO level) the way the Go
    # parser prints via log.Printf (parser.go:2296-2305)
    debug: bool = False

    # per-parse state
    doc: Node | None = None
    document_uri: str | None = None
    article_title: str = ""
    article_byline: str = ""
    article_lang: str = ""
    attempts: list = field(default_factory=list)
    flags: Flags = field(default_factory=Flags)
    # names of the Flags whose branch decided something in the current
    # grab attempt (reset per attempt; read by the retry sieve)
    fired: set = field(default_factory=set, init=False, repr=False)

    # ------------------------------------------------------------ score state

    @staticmethod
    def _set_content_score(node, score: float) -> None:
        set_attribute(node, "data-readability-score", "%.4f" % score)

    @staticmethod
    def _has_content_score(node) -> bool:
        return has_attribute(node, "data-readability-score")

    @staticmethod
    def _get_content_score(node) -> float:
        s = go_trim_space(get_attribute(node, "data-readability-score"))
        if s == "":
            return 0.0
        try:
            return float(s)
        except ValueError:
            return 0.0

    @staticmethod
    def _set_data_table(node, is_data: bool) -> None:
        if is_data:
            set_attribute(node, "data-readability-table", "true")
        else:
            remove_attribute(node, "data-readability-table")

    @staticmethod
    def _is_data_table(node) -> bool:
        return has_attribute(node, "data-readability-table")

    # ------------------------------------------------------------ traversal

    @staticmethod
    def _get_next_node(node, ignore_self_and_kids: bool):
        """Depth-first element traversal (parser.go:659-685)."""
        if not ignore_self_and_kids:
            fc = node.first_element_child()
            if fc is not None:
                return fc
        sib = node.next_element_sibling()
        if sib is not None:
            return sib
        while True:
            node = node.parent
            if node is None or node.next_element_sibling() is not None:
                break
        if node is not None:
            return node.next_element_sibling()
        return None

    def _remove_and_get_next(self, node):
        nxt = self._get_next_node(node, True)
        if node.parent is not None:
            node.parent.remove_child(node)
        return nxt

    @staticmethod
    def _next_significant(node):
        """parser.go:449-455: skip whitespace-only non-element siblings."""
        nxt = node
        while (
            nxt is not None
            and nxt.type != ELEMENT
            and rx.RX_WHITESPACE.match(text_content(nxt)) is not None
        ):
            nxt = nxt.next
        return nxt

    @staticmethod
    def _has_ancestor_tag(node, tag, max_depth=3, filter_fn=None) -> bool:
        """parser.go:1793-1808."""
        depth = 0
        while node.parent is not None:
            if max_depth > 0 and depth > max_depth:
                return False
            parent = node.parent
            if parent.type == ELEMENT and parent.tag == tag and (
                filter_fn is None or filter_fn(parent)
            ):
                return True
            node = parent
            depth += 1
        return False

    @staticmethod
    def _get_node_ancestors(node, max_depth=0):
        """parser.go:746-759."""
        i = 0
        ancestors = []
        while node.parent is not None:
            i += 1
            ancestors.append(node.parent)
            if 0 < max_depth == i:
                break
            node = node.parent
        return ancestors

    # ------------------------------------------------------------ predicates

    @staticmethod
    def _is_probably_visible(node) -> bool:
        """parser.go:2147-2159.

        Single pass over the attribute list (r7): the four separate
        get_attribute/has_attribute scans made this the largest
        attribute-lookup consumer in the extraction profile (it runs for
        every element of every grab attempt). First-occurrence semantics
        match get_attribute exactly."""
        style = aria_hidden = cls = None
        hidden = False
        attrs = node.attrs
        if attrs:
            for item in attrs:
                k = item[0]
                if k == "style":
                    if style is None:
                        style = item[1]
                elif k == "aria-hidden":
                    if aria_hidden is None:
                        aria_hidden = item[1]
                elif k == "class":
                    if cls is None:
                        cls = item[1]
                elif k == "hidden":
                    hidden = True
        style = style or ""
        aria_hidden = aria_hidden or ""
        cls = cls or ""
        return (
            (style == "" or rx.RX_DISPLAY_NONE.search(style) is None)
            and (style == "" or rx.RX_VISIBILITY_HIDDEN.search(style) is None)
            and not hidden
            and (aria_hidden == "" or aria_hidden != "true" or "fallback-image" in cls)
        )

    @staticmethod
    def _is_whitespace(node) -> bool:
        """parser.go:1656-1659."""
        return (node.type == TEXT and go_trim_space(text_content(node)) == "") or (
            node.type == ELEMENT and node.tag == "br"
        )

    @classmethod
    def _is_phrasing_content(cls, node) -> bool:
        """parser.go:1648-1653 (iterative: a/del/ins chains can nest deep
        in hostile markup)."""
        pending = [node]
        while pending:
            n = pending.pop()
            if n.type == TEXT:
                continue
            if n.type != ELEMENT:
                return False
            tag = n.tag
            if tag in rx.PHRASING_ELEMS:
                continue
            if tag in ("a", "del", "ins"):
                c = n.first_child
                while c is not None:
                    pending.append(c)
                    c = c.next
                continue
            return False
        return True

    @staticmethod
    def _is_element_without_content(node) -> bool:
        """parser.go:1628-1636 (single-pass equivalent: empty text iff no
        text node holds a non-whitespace char; child/br/hr counts gathered
        in the same walk)."""
        if node.type != ELEMENT:
            return False
        n_children = 0
        n_brhr = 0
        stack = []
        c = node.first_child
        while c is not None or stack:
            if c is None:
                c = stack.pop().next
                continue
            t = c.type
            if t == TEXT:
                if not _WS_ONLY(c.data):
                    return False
            elif t == ELEMENT:
                if c.parent is node:
                    n_children += 1
                if c.tag == "br" or c.tag == "hr":
                    n_brhr += 1
                if c.first_child is not None:
                    stack.append(c)
                    c = c.first_child
                    continue
            c = c.next
        return n_children == 0 or n_children == n_brhr

    @staticmethod
    def _has_single_tag_inside_element(element, tag) -> bool:
        """parser.go:1614-1624."""
        childs = element.children()
        if len(childs) != 1 or childs[0].tag != tag:
            return False
        for n in element.child_nodes():
            if n.type == TEXT and rx.RX_HAS_CONTENT.search(n.data) is not None:
                return False
        return True

    @classmethod
    def _has_child_block_element(cls, element) -> bool:
        """parser.go:1640-1645 (iterative subtree scan)."""
        stack = []
        c = element.first_child
        while c is not None or stack:
            if c is None:
                c = stack.pop().next
                continue
            if c.type == ELEMENT and c.tag in rx.DIV_TO_P_ELEMS:
                return True
            if c.first_child is not None:
                stack.append(c)
                c = c.first_child
            else:
                c = c.next
        return False

    def _get_link_density(self, element) -> float:
        """parser.go:1704-1725. Single subtree walk: the element's inner
        text and every <a> descendant's inner text are collected in one
        pass (the two-pass spelling — InnerText, then a re-walk per link
        from GetElementsByTagName("a") — was the hottest non-tokenizer
        call in the extraction profile). Per-link texts are normalized
        individually, exactly like the reference's per-link InnerText."""
        total_parts: list = []
        open_links: list = []  # [node, coefficient, parts] of open <a> ancestors
        link_length = 0.0

        def _close(link_entry):
            nonlocal link_length
            _, coeff, parts = link_entry
            link_length += (
                char_count(rx.normalize_spaces(go_trim_space("".join(parts)))) * coeff
            )

        c = element.first_child
        while c is not None:
            if c.type == TEXT:
                total_parts.append(c.data)
                for entry in open_links:
                    entry[2].append(c.data)
            elif c.type == ELEMENT:
                if c.tag == "a":
                    href = go_trim_space(get_attribute(c, "href"))
                    coeff = 0.3 if (href and rx.RX_HASH_URL.match(href)) else 1.0
                    open_links.append([c, coeff, []])
                if c.first_child is not None:
                    c = c.first_child
                    continue
                if open_links and open_links[-1][0] is c:
                    _close(open_links.pop())
            while c.next is None:
                c = c.parent
                if c is element or c is None:
                    c = None
                    break
                if open_links and open_links[-1][0] is c:
                    _close(open_links.pop())
            if c is None:
                break
            c = c.next
        while open_links:  # element boundary reached with links still open
            _close(open_links.pop())

        text_length = char_count(rx.normalize_spaces(go_trim_space("".join(total_parts))))
        if text_length == 0:
            return 0.0
        return link_length / text_length

    def _get_class_weight(self, node) -> int:
        """parser.go:1729-1759."""
        if not self.flags.use_weight_classes:
            return 0
        weight = 0
        cls, nid = class_and_id(node)
        if cls != "":
            weight += rx.class_weight_string(cls)
        if nid != "":
            weight += rx.class_weight_string(nid)
        if weight:
            self.fired.add("use_weight_classes")
        return weight

    def _initialize_node(self, node) -> None:
        """parser.go:628-642."""
        score = float(self._get_class_weight(node))
        tag = node.tag
        if tag == "div":
            score += 5
        elif tag in ("pre", "td", "blockquote"):
            score += 3
        elif tag in ("address", "ol", "ul", "dl", "dd", "dt", "li", "form"):
            score -= 3
        elif tag in ("h1", "h2", "h3", "h4", "h5", "h6", "th"):
            score -= 5
        self._set_content_score(node, score)

    def _get_text_density(self, node, tags, children=None, text_length=None) -> float:
        """parser.go:729-742. `children`/`text_length` let the hot caller
        (_clean_conditionally, which has already collected the nodes and
        measured the text) avoid re-walking the subtree."""
        if text_length is None:
            text_length = char_count(get_inner_text(node, True))
        if text_length == 0:
            return 0.0
        if children is None:
            children = [
                child
                for tag in tags
                for child in get_elements_by_tag_name(node, tag)
            ]
        children_length = sum(
            char_count(get_inner_text(child, True)) for child in children
        )
        return children_length / text_length

    # ------------------------------------------------------------ removals

    @staticmethod
    def _remove_nodes(node_list, filter_fn=None) -> None:
        """parser.go:166-174: reverse-order removal."""
        for i in range(len(node_list) - 1, -1, -1):
            node = node_list[i]
            parent = node.parent
            if parent is not None and (filter_fn is None or filter_fn(node)):
                parent.remove_child(node)

    @staticmethod
    def _set_node_tag(node, new_tag) -> None:
        if node.type == ELEMENT:
            node.tag = new_tag

    def _replace_node_tags(self, node_list, new_tag) -> None:
        for i in range(len(node_list) - 1, -1, -1):
            self._set_node_tag(node_list[i], new_tag)

    @staticmethod
    def _get_all_nodes_with_tag(node, *tags):
        """Per-tag document order, concatenated in argument order — the
        go-shiori/dom GetAllNodesWithTag contract. Multi-tag calls do ONE
        subtree walk (_collect_tags) instead of one per tag."""
        if len(tags) == 1:
            return get_elements_by_tag_name(node, tags[0])
        found = Parser._collect_tags(node, frozenset(tags))
        out = []
        for tag in tags:
            out.extend(found[tag])
        return out

    @staticmethod
    def _collect_tags(node, wanted: frozenset):
        """One walk over the subtree collecting {tag: [nodes]} for every
        tag in `wanted` (document order per tag — equivalent to separate
        GetElementsByTagName calls for counting/summing purposes)."""
        found: dict[str, list] = {t: [] for t in wanted}
        stack = []
        c = node.first_child
        while c is not None or stack:
            if c is None:
                c = stack.pop().next
                continue
            if c.type == ELEMENT:
                if c.tag in wanted:
                    found[c.tag].append(c)
                if c.first_child is not None:
                    stack.append(c)
                    c = c.first_child
                    continue
            c = c.next
        return found

    def _video_filter(self):
        return self.allowed_video_regex or rx.RX_VIDEOS

    def _clean(self, node, tag, node_list=None) -> None:
        """parser.go:1763-1788. `node_list` lets _prep_article batch the
        consecutive _clean passes into one _collect_tags walk — a node
        already detached by an earlier tag's removal is re-removed as a
        no-op, so the snapshot is equivalent to the re-walk."""
        is_embed = tag in ("object", "embed", "iframe")
        rx_video = self._video_filter()

        def fn(element):
            if is_embed:
                for _, val in element.attrs or ():
                    if rx_video.search(val):
                        return False
                if element.tag == "object" and rx_video.search(inner_html(element)):
                    return False
            return True

        if node_list is None:
            node_list = get_elements_by_tag_name(node, tag)
        self._remove_nodes(node_list, fn)

    # ------------------------------------------------------------ prepDocument

    def _remove_scripts(self, doc) -> None:
        """parser.go:1606-1608."""
        self._remove_nodes(self._get_all_nodes_with_tag(doc, "script", "noscript"))

    def _remove_comments(self, doc) -> None:
        """parser.go:2212-2233 (iterative walk over every node)."""
        comments = []
        stack = []
        c = doc.first_child
        while c is not None or stack:
            if c is None:
                c = stack.pop().next
                continue
            if c.type == 8:  # COMMENT
                comments.append(c)
            if c.first_child is not None:
                stack.append(c)
                c = c.first_child
            else:
                c = c.next
        self._remove_nodes(comments)

    def _replace_brs(self, elem) -> None:
        """parser.go:465-524."""
        for br in self._get_all_nodes_with_tag(elem, "br"):
            nxt = br.next
            replaced = False
            while True:
                nxt = self._next_significant(nxt)
                if nxt is None or not (nxt.type == ELEMENT and nxt.tag == "br"):
                    break
                replaced = True
                br_sibling = nxt.next
                nxt.parent.remove_child(nxt)
                nxt = br_sibling

            if replaced:
                p = create_element("p")
                br.parent.replace_child(p, br)
                nxt = p.next
                while nxt is not None:
                    if nxt.type == ELEMENT and nxt.tag == "br":
                        next_elem = self._next_significant(nxt.next)
                        if next_elem is not None and next_elem.type == ELEMENT and next_elem.tag == "br":
                            break
                    if not self._is_phrasing_content(nxt):
                        break
                    sibling = nxt.next
                    p.append_child(nxt)
                    nxt = sibling

                while p.last_child is not None and self._is_whitespace(p.last_child):
                    p.remove_child(p.last_child)

                if p.parent.type == ELEMENT and p.parent.tag == "p":
                    self._set_node_tag(p.parent, "div")

    def _prep_document(self) -> None:
        """parser.go:429-444."""
        doc = self.doc
        self._remove_comments(doc)
        self._remove_nodes(get_elements_by_tag_name(doc, "style"))
        body = body_element(doc)
        if body is not None:
            self._replace_brs(body)
        self._replace_node_tags(get_elements_by_tag_name(doc, "font"), "span")

    # ------------------------------------------------------------ noscript img

    @classmethod
    def _is_single_image(cls, node) -> bool:
        """parser.go:1512-1524 (loop over the single-child chain)."""
        while True:
            if node.type == ELEMENT and node.tag == "img":
                return True
            children = node.children()
            if len(children) != 1 or go_trim_space(text_content(node)) != "":
                return False
            node = children[0]

    def _unwrap_noscript_images(self, doc) -> None:
        """parser.go:1530-1603.

        r7: both tag lists are collected in ONE whole-document walk
        (_collect_tags).  Safe: <img> is void (never contains a
        <noscript>), so removing attribute-less imgs cannot detach any
        collected noscript, and per-tag document order is preserved."""
        found = self._collect_tags(doc, frozenset(("img", "noscript")))
        for img in found["img"]:
            keep = False
            for key, val in img.attrs or ():
                if key in ("src", "data-src", "srcset", "data-srcset"):
                    keep = True
                    break
                if rx.RX_IMG_EXTENSIONS.search(val):
                    keep = True
                    break
            if not keep and img.parent is not None:
                img.parent.remove_child(img)

        for noscript in found["noscript"]:
            # noscript is a raw-text element in our builder, so its content
            # is a text payload we re-parse here (parser.go:1555)
            tmp_doc = parse_html(text_content(noscript))
            tmp_body = body_element(tmp_doc)
            if tmp_body is None or not self._is_single_image(tmp_body):
                continue
            prev_element = noscript.prev_element_sibling()
            if prev_element is not None and self._is_single_image(prev_element):
                prev_img = prev_element
                if prev_img.tag != "img":
                    imgs = get_elements_by_tag_name(prev_element, "img")
                    if not imgs:
                        continue
                    prev_img = imgs[0]
                new_imgs = get_elements_by_tag_name(tmp_body, "img")
                if not new_imgs:
                    continue
                new_img = new_imgs[0]
                for key, val in list(prev_img.attrs or ()):
                    if val == "":
                        continue
                    if key in ("src", "srcset") or rx.RX_IMG_EXTENSIONS.search(val):
                        if get_attribute(new_img, key) == val:
                            continue
                        attr_name = key
                        if has_attribute(new_img, attr_name):
                            attr_name = "data-old-" + attr_name
                        set_attribute(new_img, attr_name, val)
                first_el = tmp_body.first_element_child()
                if first_el is not None and noscript.parent is not None:
                    noscript.parent.replace_child(first_el, prev_element)

    # ------------------------------------------------------------ byline/title

    def _check_byline(self, node, match_string) -> bool:
        """parser.go:710-727."""
        if self.article_byline != "":
            return False
        rel = get_attribute(node, "rel")
        itemprop = get_attribute(node, "itemprop")
        # text_content only when the attribute/regex gate passes (it
        # fails for ~99% of walked nodes and does not depend on
        # node_text — same result, ~57k subtree walks skipped).
        if rel == "author" or "author" in itemprop or rx.RX_BYLINE.search(match_string):
            node_text = text_content(node)
            if self._is_valid_byline(node_text):
                self.article_byline = " ".join(go_fields(node_text))
                return True
        return False

    @staticmethod
    def _is_valid_byline(byline: str) -> bool:
        n = char_count(go_trim_space(byline))
        return 0 < n < 100

    def _header_duplicates_title(self, node) -> bool:
        """parser.go:2136-2144."""
        if node.tag not in ("h1", "h2"):
            return False
        heading = get_inner_text(node, False)
        sim = text_similarity(self.article_title, heading)
        return sim > 0.75

    # ------------------------------------------------------------ grabArticle

    def _logf(self, fmt: str, *args) -> None:
        """parser.go:2296-2305 log/logf twin (no-op unless self.debug)."""
        if self.debug:
            import logging

            logging.getLogger("go_readability_spark.readability").info(
                fmt % args if args else fmt
            )

    def _grab_article(self):
        """parser.go:764-1250: the scoring core with its retry sieve.

        Deviation from parser.go:1196-1249: a retry that provably replays
        the attempt just run is skipped. Only two pieces of state carry
        from one attempt to the next: ``self.flags`` and
        ``self.article_byline`` (once set, ``_check_byline`` stops removing
        the byline node); the document is re-cloned and the language
        re-read each time. Each flag has exactly one reader: the unlikely
        and role removals, ``_get_class_weight`` and ``_clean_conditionally``.
        So when an attempt left the byline unchanged and the flag the next
        retry turns off never fired (no removal, a zero weight, no node
        removed), that retry would run the same operations on the same
        clone and end with the same (content, length) and the same fired
        flags: the sieve turns the next flag off instead, and keeps going
        until a flag that fired. With no flag left it selects as before;
        the sort is stable, so a skipped replay could only have tied an
        earlier attempt, which wins the tie. ``self.attempts`` holds the
        attempts actually run.

        The sieve also stops at an upper bound: the body's own text. At a
        retry it skips every retry left when (a) the attempt's length
        equals ``B``, the normalized length of ``<body>``'s text; (b) the
        byline is set or ``strip_unlikelys`` did not fire, since that
        flag alone changes which nodes the walk visits and so it alone
        can let a later attempt find a byline; and (c) no element the
        walk can score (a ``div`` or a tag in ``tags_to_score``) lies
        outside ``<body>`` (``_body_text_length``). Given (c), every
        attempt's article holds the body's text nodes in document order,
        some of them removed, and removing characters never raises the
        normalized length: after the ends are trimmed it counts each
        character once and each run of ASCII whitespace once, and a removal
        neither adds a character nor splits a run. So no later attempt is
        longer than ``B``; it
        could only tie, and the earlier attempt wins a tie. ``B`` is under
        ``char_thresholds``, so no later attempt returns early either.
        ``B`` is computed at most once per document, at the first retry
        that passes (b)."""
        body_length = None
        while True:
            self.fired.clear()
            byline_before = self.article_byline
            doc = self.doc.clone(True)
            page = body_element(doc)
            if page is None:
                return None

            elements_to_score = []
            node = document_element(doc)
            should_remove_title_header = True

            while node is not None:
                _cls, _nid = class_and_id(node)
                match_string = _cls + " " + _nid

                if node.tag == "html":
                    self.article_lang = get_attribute(node, "lang")

                if not self._is_probably_visible(node):
                    self._logf("removing hidden node: %r", match_string)
                    node = self._remove_and_get_next(node)
                    continue

                if (
                    get_attribute(node, "aria-modal") == "true"
                    and get_attribute(node, "role") == "dialog"
                ):
                    node = self._remove_and_get_next(node)
                    continue

                if self._check_byline(node, match_string):
                    node = self._remove_and_get_next(node)
                    continue

                if should_remove_title_header and self._header_duplicates_title(node):
                    self._logf(
                        "removing header: %r duplicate of %r",
                        match_string, self.article_title,
                    )
                    should_remove_title_header = False
                    node = self._remove_and_get_next(node)
                    continue

                node_tag = node.tag
                if self.flags.strip_unlikelys:
                    if (
                        rx.is_unlikely_candidate_string(match_string)
                        and not self._has_ancestor_tag(node, "table", 3)
                        and not self._has_ancestor_tag(node, "code", 3)
                        and node_tag != "body"
                        and node_tag != "a"
                    ):
                        self._logf("removing unlikely candidate: %r", match_string)
                        self.fired.add("strip_unlikelys")
                        node = self._remove_and_get_next(node)
                        continue

                    role = get_attribute(node, "role")
                    if role in rx.UNLIKELY_ROLES:
                        self._logf(
                            "removing content with role %r: %r", role, match_string
                        )
                        self.fired.add("strip_unlikelys")
                        node = self._remove_and_get_next(node)
                        continue

                if node_tag in (
                    "div", "section", "header", "h1", "h2", "h3", "h4", "h5", "h6",
                ):
                    if self._is_element_without_content(node):
                        node = self._remove_and_get_next(node)
                        continue

                if node_tag in self.tags_to_score:
                    elements_to_score.append(node)

                if node_tag == "div":
                    # wrap loose phrasing children into <p> (parser.go:863-884)
                    p = None
                    child = node.first_child
                    while child is not None:
                        next_sibling = child.next
                        if self._is_phrasing_content(child):
                            if p is not None:
                                p.append_child(child)
                            elif not self._is_whitespace(child):
                                p = create_element("p")
                                node.replace_child(p, child)
                                p.append_child(child)
                        elif p is not None:
                            while p.last_child is not None and self._is_whitespace(p.last_child):
                                p.remove_child(p.last_child)
                            p = None
                        child = next_sibling

                    if self._has_single_tag_inside_element(node, "p") and self._get_link_density(node) < 0.25:
                        new_node = node.children()[0]
                        node.parent.replace_child(new_node, node)
                        node = new_node
                        elements_to_score.append(node)
                    elif not self._has_child_block_element(node):
                        self._set_node_tag(node, "p")
                        elements_to_score.append(node)

                node = self._get_next_node(node, False)

            # ---- scoring (parser.go:908-963)
            candidates = []
            for element in elements_to_score:
                if element.parent is None or element.parent.type != ELEMENT:
                    continue
                inner_text = get_inner_text(element, True)
                if char_count(inner_text) < 25:
                    continue
                ancestors = self._get_node_ancestors(element, 5)
                if not ancestors:
                    continue

                content_score = 1
                content_score += rx.count_commas(inner_text)
                content_score += int(min(math.floor(char_count(inner_text) / 100.0), 3.0))

                for level, ancestor in enumerate(ancestors):
                    if (
                        ancestor.type != ELEMENT
                        or ancestor.parent is None
                        or ancestor.parent.type != ELEMENT
                    ):
                        continue
                    if not self._has_content_score(ancestor):
                        self._initialize_node(ancestor)
                        candidates.append(ancestor)
                    if level == 0:
                        divider = 1
                    elif level == 1:
                        divider = 2
                    else:
                        divider = level * 3
                    self._set_content_score(
                        ancestor, self._get_content_score(ancestor) + content_score / divider
                    )

            # link-density scaling (parser.go:976-981)
            for candidate in candidates:
                score = self._get_content_score(candidate) * (1 - self._get_link_density(candidate))
                self._set_content_score(candidate, score)

            candidates.sort(key=self._get_content_score, reverse=True)
            top_candidates = candidates[: self.n_top_candidates]

            top_candidate = top_candidates[0] if top_candidates else None
            needed_to_create_top_candidate = False

            if top_candidate is None or top_candidate.tag == "body":
                # body fallback (parser.go:1005-1017)
                top_candidate = create_element("div")
                needed_to_create_top_candidate = True
                while page.first_child is not None:
                    top_candidate.append_child(page.first_child)
                page.append_child(top_candidate)
                self._initialize_node(top_candidate)
            else:
                # alternative-ancestor promotion (parser.go:1018-1049)
                top_score = self._get_content_score(top_candidate)
                alternative_ancestors = []
                for other in top_candidates[1:]:
                    other_score = self._get_content_score(other)
                    if top_score == 0.0:
                        # Go float semantics: x/0 = ±Inf, 0/0 = NaN
                        ratio_ok = other_score > 0
                    else:
                        ratio_ok = other_score / top_score >= 0.75
                    if ratio_ok:
                        alternative_ancestors.append(self._get_node_ancestors(other, 0))

                if len(alternative_ancestors) >= 3:
                    parent_of_top = top_candidate.parent
                    while parent_of_top is not None and parent_of_top.tag != "body":
                        count = 0
                        for ancestor_list in alternative_ancestors:
                            if count >= 3:
                                break
                            if any(a is parent_of_top for a in ancestor_list):
                                count += 1
                        if count >= 3:
                            top_candidate = parent_of_top
                            break
                        parent_of_top = parent_of_top.parent

                if not self._has_content_score(top_candidate):
                    self._initialize_node(top_candidate)

                # parent-score climb (parser.go:1055-1086)
                parent_of_top = top_candidate.parent
                last_score = self._get_content_score(top_candidate)
                score_threshold = last_score / 3.0
                while parent_of_top is not None and parent_of_top.tag != "body":
                    if not self._has_content_score(parent_of_top):
                        parent_of_top = parent_of_top.parent
                        continue
                    parent_score = self._get_content_score(parent_of_top)
                    if parent_score < score_threshold:
                        break
                    if parent_score > last_score:
                        top_candidate = parent_of_top
                        break
                    last_score = parent_score
                    parent_of_top = parent_of_top.parent

                # only-child climb (parser.go:1092-1096)
                parent_of_top = top_candidate.parent
                while (
                    parent_of_top is not None
                    and parent_of_top.tag != "body"
                    and len(parent_of_top.children()) == 1
                ):
                    top_candidate = parent_of_top
                    parent_of_top = top_candidate.parent

                if not self._has_content_score(top_candidate):
                    self._initialize_node(top_candidate)

            # sibling merge (parser.go:1103-1160)
            article_content = create_element("div")
            sibling_score_threshold = max(10.0, self._get_content_score(top_candidate) * 0.2)
            top_candidate_score = self._get_content_score(top_candidate)
            top_candidate_class = class_name(top_candidate)

            parent_of_top = top_candidate.parent
            # the only-child climb ends at the document node, which has no
            # parent, when <body> was removed (role="navigation") and only
            # <head> holds text: there are no siblings to merge
            siblings = parent_of_top.children() if parent_of_top is not None else []
            for sibling in siblings:
                append_node = False
                if sibling is top_candidate:
                    append_node = True
                else:
                    content_bonus = 0.0
                    if class_name(sibling) == top_candidate_class and top_candidate_class != "":
                        content_bonus += top_candidate_score * 0.2
                    if (
                        self._has_content_score(sibling)
                        and self._get_content_score(sibling) + content_bonus >= sibling_score_threshold
                    ):
                        append_node = True
                    elif sibling.tag == "p":
                        link_density = self._get_link_density(sibling)
                        node_content = get_inner_text(sibling, True)
                        node_length = char_count(node_content)
                        if node_length > 80 and link_density < 0.25:
                            append_node = True
                        elif (
                            0 < node_length < 80
                            and link_density == 0
                            and rx.RX_SENTENCE_PERIOD.search(node_content)
                        ):
                            append_node = True

                if append_node:
                    if sibling.tag not in rx.ALTER_TO_DIV_EXCEPTIONS:
                        self._set_node_tag(sibling, "div")
                    article_content.append_child(sibling)

            self._prep_article(article_content)

            if needed_to_create_top_candidate:
                first_child = article_content.first_element_child()
                if first_child is not None and first_child.tag == "div":
                    set_attribute(first_child, "id", "readability-page-1")
                    set_attribute(first_child, "class", "page")
            else:
                div = create_element("div")
                set_attribute(div, "id", "readability-page-1")
                set_attribute(div, "class", "page")
                while article_content.first_child is not None:
                    div.append_child(article_content.first_child)
                article_content.append_child(div)

            # retry sieve (parser.go:1196-1249)
            text_length = char_count(get_inner_text(article_content, True))
            if text_length < self.char_thresholds:
                self.attempts.append((article_content, text_length))
                replay = self.article_byline == byline_before
                retry = False
                for name in _SIEVE_FLAGS:
                    if getattr(self.flags, name):
                        setattr(self.flags, name, False)
                        if not replay or name in self.fired:
                            retry = True
                            break
                        self._logf("skipping retry without %s: it decided nothing", name)
                if retry and (self.article_byline
                              or "strip_unlikelys" not in self.fired):
                    if body_length is None:
                        body_length = self._body_text_length()
                    if text_length == body_length:
                        self._logf("skipping retries: the article holds all %d "
                                   "characters of the body", text_length)
                        retry = False
                if retry:
                    continue
                self.attempts.sort(key=lambda a: a[1], reverse=True)
                if self.attempts[0][1] == 0:
                    return None
                return self.attempts[0][0]
            return article_content

    def _body_text_length(self) -> float:
        """The retry bound of ``_grab_article``: the normalized length of
        the body's text, or no bound (infinity) when an element the walk
        can score lies outside ``<body>`` (as in a ``<template>`` in the
        head), where an article could hold text the body does not."""
        body = body_element(self.doc)
        scorable = {"div", *self.tags_to_score}
        stack = [self.doc]
        while stack:
            node = stack.pop()
            if node is body:
                continue
            if node.type == ELEMENT and node.tag in scorable:
                return math.inf
            child = node.first_child
            while child is not None:
                stack.append(child)
                child = child.next
        return char_count(get_inner_text(body, True))

    # ------------------------------------------------------------ prepArticle

    def _prep_article(self, article_content) -> None:
        """parser.go:535-624."""
        self._clean_styles(article_content)
        self._mark_data_tables(article_content)
        self._fix_lazy_images(article_content)

        self._clean_conditionally(article_content, "form")
        self._clean_conditionally(article_content, "fieldset")
        found = self._collect_tags(
            article_content, frozenset(("object", "embed", "footer", "link", "aside"))
        )
        for tag in ("object", "embed", "footer", "link", "aside"):
            self._clean(article_content, tag, node_list=found[tag])

        share_threshold = self.char_thresholds
        for top_candidate in article_content.children():
            self._clean_matched_nodes(
                top_candidate,
                lambda n, class_id: rx.RX_SHARE_ELEMENTS.search(class_id) is not None
                and char_count(text_content(n)) < share_threshold,
            )

        found = self._collect_tags(
            article_content,
            frozenset(("iframe", "input", "textarea", "select", "button")),
        )
        for tag in ("iframe", "input", "textarea", "select", "button"):
            self._clean(article_content, tag, node_list=found[tag])
        self._clean_headers(article_content)

        self._clean_conditionally(article_content, "table")
        self._clean_conditionally(article_content, "ul")
        self._clean_conditionally(article_content, "div")

        self._replace_node_tags(get_elements_by_tag_name(article_content, "h1"), "h2")

        def empty_p(p):
            # single walk: any media descendant keeps the <p>
            stack = []
            c = p.first_child
            while c is not None or stack:
                if c is None:
                    c = stack.pop().next
                    continue
                if c.type == ELEMENT:
                    if c.tag in ("img", "embed", "object", "iframe"):
                        return False
                    if c.first_child is not None:
                        stack.append(c)
                        c = c.first_child
                        continue
                c = c.next
            return get_inner_text(p, False) == ""

        self._remove_nodes(get_elements_by_tag_name(article_content, "p"), empty_p)

        for br in get_elements_by_tag_name(article_content, "br"):
            nxt = self._next_significant(br.next)
            if nxt is not None and nxt.type == ELEMENT and nxt.tag == "p" and br.parent is not None:
                br.parent.remove_child(br)

        # single-cell table unwrap (parser.go:602-623)
        for table in get_elements_by_tag_name(article_content, "table"):
            tbody = table
            if self._has_single_tag_inside_element(table, "tbody"):
                tbody = table.first_element_child()
            if self._has_single_tag_inside_element(tbody, "tr"):
                row = tbody.first_element_child()
                if self._has_single_tag_inside_element(row, "td"):
                    cell = row.first_element_child()
                    new_tag = (
                        "p"
                        if all(self._is_phrasing_content(n) for n in cell.child_nodes())
                        else "div"
                    )
                    self._set_node_tag(cell, new_tag)
                    if table.parent is not None:
                        table.parent.replace_child(cell, table)

    def _clean_styles(self, node) -> None:
        """parser.go:1680-1699 (iterative; svg subtrees skipped)."""
        if node is None:
            return
        pending = [node]
        while pending:
            n = pending.pop()
            if n.type == ELEMENT and n.tag == "svg":
                continue
            # single filter pass == removing each name independently
            # (12 separate remove_attribute scans per element was the
            # hottest call site on table-heavy pages)
            attrs = n.attrs
            if attrs:
                drop = _PRESENTATIONAL_SET
                if n.tag in rx.DEPRECATED_SIZE_ATTRIBUTE_ELEMS:
                    drop = _PRESENTATIONAL_PLUS_SIZE
                if any(a[0] in drop for a in attrs):
                    # list-of-LISTS rebuild: filtering a shared tuple
                    # with [a for a in ...] would leak immutable inner
                    # tuples into a private list (see dom/node.py COW)
                    n.attrs = [[k, v] for k, v in attrs if k not in drop]
            child = n.first_element_child()
            while child is not None:
                pending.append(child)
                child = child.next_element_sibling()

    def _get_row_and_column_count(self, table):
        """parser.go:1811-1841."""
        rows = 0
        columns = 0
        for tr in get_elements_by_tag_name(table, "tr"):
            rowspan = _atoi(get_attribute(tr, "rowspan"))
            rows += rowspan if rowspan else 1
            cols_in_row = 0
            for cell in get_elements_by_tag_name(tr, "td"):
                colspan = _atoi(get_attribute(cell, "colspan"))
                cols_in_row += colspan if colspan else 1
            columns = max(columns, cols_in_row)
        return rows, columns

    def _mark_data_tables(self, root) -> None:
        """parser.go:1846-1907."""
        for table in get_elements_by_tag_name(root, "table"):
            if get_attribute(table, "role") == "presentation":
                self._set_data_table(table, False)
                continue
            if get_attribute(table, "datatable") == "0":
                self._set_data_table(table, False)
                continue
            if has_attribute(table, "summary"):
                self._set_data_table(table, True)
                continue
            found = self._collect_tags(
                table,
                frozenset(("caption", "col", "colgroup", "tfoot", "thead", "th", "table")),
            )
            captions = found["caption"]
            if captions and captions[0].first_child is not None:
                self._set_data_table(table, True)
                continue
            if any(found[t] for t in ("col", "colgroup", "tfoot", "thead", "th")):
                self._set_data_table(table, True)
                continue
            if found["table"]:
                self._set_data_table(table, False)
                continue
            rows, columns = self._get_row_and_column_count(table)
            if rows >= 10 or columns > 4:
                self._set_data_table(table, True)
                continue
            if rows * columns > 10:
                self._set_data_table(table, True)

    def _fix_lazy_images(self, root) -> None:
        """parser.go:1911-1991."""
        from .utils import is_valid_url

        for elem in self._get_all_nodes_with_tag(root, "img", "picture", "figure"):
            src = get_attribute(elem, "src")
            srcset = get_attribute(elem, "srcset")
            node_tag = elem.tag
            node_class = class_name(elem)

            if src != "" and rx.RX_B64_DATA_URL.match(src):
                parts = rx.RX_B64_DATA_URL.match(src)
                if parts.group(1) == "image/svg+xml":
                    continue
                src_could_be_removed = False
                for key, val in elem.attrs or ():
                    if key == "src":
                        continue
                    if rx.RX_IMG_EXTENSIONS.search(val) and is_valid_url(val):
                        src_could_be_removed = True
                        break
                if src_could_be_removed:
                    b64_starts = src.find("base64") + 7
                    if len(src) - b64_starts < 133:
                        src = ""
                        remove_attribute(elem, "src")

            if (src != "" or srcset != "") and "lazy" not in node_class.lower():
                continue

            for key, val in list(elem.attrs or ()):
                if key in ("src", "srcset", "alt"):
                    continue
                copy_to = ""
                if rx.RX_LAZY_IMAGE_SRCSET.search(val):
                    copy_to = "srcset"
                elif rx.RX_LAZY_IMAGE_SRC.match(val):
                    copy_to = "src"
                if copy_to == "" or not is_valid_url(val):
                    continue
                if node_tag in ("img", "picture"):
                    set_attribute(elem, copy_to, val)
                elif node_tag == "figure" and not self._get_all_nodes_with_tag(elem, "img", "picture"):
                    img = create_element("img")
                    set_attribute(img, copy_to, val)
                    elem.append_child(img)

    def _clean_conditionally(self, element, tag) -> None:
        """parser.go:1996-2105 — the 'fishy' heuristic."""
        if not self.flags.clean_conditionally:
            return
        rx_video = self._video_filter()

        def remove(node):
            if fishy(node):
                self.fired.add("clean_conditionally")
                return True
            return False

        def fishy(node):
            if tag == "table" and self._is_data_table(node):
                return False

            found = self._collect_tags(node, _CLEAN_COND_TAGS)
            node_text = get_inner_text(node, True)
            node_text_len = char_count(node_text)

            is_list = tag in ("ul", "ol")
            if not is_list:
                list_length = 0
                for lst in found["ul"] + found["ol"]:
                    list_length += char_count(get_inner_text(lst, True))
                is_list = node_text_len > 0 and list_length / node_text_len > 0.9

            if self._has_ancestor_tag(node, "table", -1, self._is_data_table):
                return False
            if self._has_ancestor_tag(node, "code", 3):
                return False

            weight = self._get_class_weight(node)
            if weight < 0:
                return True

            # same value as _get_char_count(node, ",") — reuses the
            # inner text already computed above instead of re-walking
            if node_text.count(",") < 10:
                p = float(len(found["p"]))
                img = float(len(found["img"]))
                li = float(len(found["li"]) - 100)
                inputs = float(len(found["input"]))
                headings = [
                    child
                    for h in ("h1", "h2", "h3", "h4", "h5", "h6")
                    for child in found[h]
                ]
                heading_density = self._get_text_density(
                    node, (), children=headings, text_length=node_text_len
                )

                embed_count = 0
                for embed in found["object"] + found["embed"] + found["iframe"]:
                    for _, val in embed.attrs or ():
                        if rx_video.search(val):
                            return False
                    if embed.tag == "object" and rx_video.search(inner_html(embed)):
                        return False
                    embed_count += 1

                link_density = self._get_link_density(node)
                content_length = node_text_len
                have_to_remove = (
                    (img > 1 and p / img < 0.5 and not self._has_ancestor_tag(node, "figure", 3))
                    or (not is_list and li > p)
                    or (inputs > math.floor(p / 3))
                    or (
                        not is_list
                        and heading_density < 0.9
                        and content_length < 25
                        and (img == 0 or img > 2)
                        and not self._has_ancestor_tag(node, "figure", 3)
                    )
                    or (not is_list and weight < 25 and link_density > 0.2)
                    or (weight >= 25 and link_density > 0.5)
                    or ((embed_count == 1 and content_length < 75) or embed_count > 1)
                )

                if is_list and have_to_remove:
                    for child in node.children():
                        if len(child.children()) > 1:
                            return have_to_remove
                    li_count = len(found["li"])
                    if int(img) == li_count:
                        return False

                return have_to_remove

            return False

        self._remove_nodes(get_elements_by_tag_name(element, tag), remove)

    def _get_char_count(self, node, s=",") -> int:
        """parser.go:1674-1677 — ASCII comma count only."""
        return get_inner_text(node, True).count(s)

    def _clean_matched_nodes(self, e, filter_fn) -> None:
        """parser.go:2109-2119."""
        end_of_search = self._get_next_node(e, True)
        nxt = self._get_next_node(e, False)
        while nxt is not None and nxt is not end_of_search:
            _cls, _nid = class_and_id(nxt)
            if filter_fn(nxt, _cls + " " + _nid):
                nxt = self._remove_and_get_next(nxt)
            else:
                nxt = self._get_next_node(nxt, False)

    def _clean_headers(self, e) -> None:
        """parser.go:2122-2132."""

        def _low_weight(n) -> bool:
            if self._get_class_weight(n) < 0:
                self._logf(
                    "removing header with low class weight: %r",
                    class_name(n) + " " + node_id(n),
                )
                return True
            return False

        self._remove_nodes(
            self._get_all_nodes_with_tag(e, "h1", "h2"), _low_weight
        )

    # ------------------------------------------------------------ postProcess

    def _post_process_content(self, article_content) -> None:
        """parser.go:148-161."""
        self._fix_relative_uris(article_content)
        self._simplify_nested_elements(article_content)
        if not self.keep_classes:
            self._clean_classes(article_content)
        self._clear_readability_attr(article_content)

    def _fix_relative_uris(self, article_content) -> None:
        """parser.go:257-319."""
        base = self.document_uri
        for link in get_elements_by_tag_name(article_content, "a"):
            href = get_attribute(link, "href")
            if href == "":
                continue
            if href.startswith("javascript:"):
                childs = link.child_nodes()
                if len(childs) == 1 and childs[0].type == TEXT:
                    text = create_text(text_content(link))
                    link.parent.replace_child(text, link)
                else:
                    container = create_element("span")
                    while link.first_child is not None:
                        container.append_child(link.first_child)
                    link.parent.replace_child(container, link)
            else:
                new_href = to_absolute_uri(href, base)
                if new_href == "":
                    remove_attribute(link, "href")
                else:
                    set_attribute(link, "href", new_href)

        for media in self._get_all_nodes_with_tag(
            article_content, "img", "picture", "figure", "video", "audio", "source"
        ):
            src = get_attribute(media, "src")
            poster = get_attribute(media, "poster")
            srcset = get_attribute(media, "srcset")
            if src != "":
                set_attribute(media, "src", to_absolute_uri(src, base))
            if poster != "":
                set_attribute(media, "poster", to_absolute_uri(poster, base))
            if srcset != "":
                def repl(m):
                    return to_absolute_uri(m.group(1), base) + (m.group(2) or "") + m.group(3)

                set_attribute(media, "srcset", rx.RX_SRCSET_URL.sub(repl, srcset))

    def _simplify_nested_elements(self, article_content) -> None:
        """parser.go:321-349."""
        node = article_content
        while node is not None:
            if (
                node.parent is not None
                and node.tag in ("div", "section")
                and not node_id(node).startswith("readability")
            ):
                if self._is_element_without_content(node):
                    node = self._remove_and_get_next(node)
                    continue
                if self._has_single_tag_inside_element(node, "div") or self._has_single_tag_inside_element(node, "section"):
                    child = node.children()[0]
                    for key, val in node.attrs or ():
                        set_attribute(child, key, val)
                    node.parent.replace_child(child, node)
                    node = child
                    continue
            node = self._get_next_node(node, False)

    def _clean_classes(self, node) -> None:
        """parser.go:235-253 (iterative)."""
        pending = [node]
        while pending:
            n = pending.pop()
            preserved = [c for c in go_fields(class_name(n)) if c in self.classes_to_preserve]
            if preserved:
                set_attribute(n, "class", " ".join(preserved))
            else:
                remove_attribute(n, "class")
            child = n.first_element_child()
            while child is not None:
                pending.append(child)
                child = child.next_element_sibling()

    def _clear_readability_attr(self, node) -> None:
        """parser.go:2286-2293 (iterative)."""
        pending = [node]
        while pending:
            n = pending.pop()
            remove_attribute(n, "data-readability-score")
            remove_attribute(n, "data-readability-table")
            child = n.first_element_child()
            while child is not None:
                pending.append(child)
                child = child.next_element_sibling()

    # ------------------------------------------------------------ entry points

    def parse_document(self, doc: Node, page_url: str | None) -> Article:
        """parser-parse.go:27-136. Mutates ``doc`` (the caller owns it; the
        reference's defensive clone at parser-parse.go:29 is skipped because
        our UDF is the only owner)."""
        self.doc = doc
        self.article_title = ""
        self.article_byline = ""
        self.article_lang = ""
        self.document_uri = page_url
        self.attempts = []
        self.flags = Flags(True, True, True)

        if self.max_elems_to_parse > 0:
            num_tags = len(get_elements_by_tag_name(self.doc, "*"))
            if num_tags > self.max_elems_to_parse:
                raise ValueError(f"documents too large: {num_tags} elements")

        self._unwrap_noscript_images(self.doc)

        json_ld = {} if self.disable_jsonld else get_jsonld(self.doc)

        self._remove_scripts(self.doc)
        self._prep_document()

        metadata = get_article_metadata(self.doc, json_ld, self.document_uri)
        self.article_title = metadata["title"]

        final_html_content = ""
        final_text_content = ""
        readable_node = None
        article_content = self._grab_article()

        if article_content is not None:
            self._post_process_content(article_content)

            if metadata["excerpt"] == "":
                paragraphs = get_elements_by_tag_name(article_content, "p")
                if paragraphs:
                    metadata["excerpt"] = go_trim_space(text_content(paragraphs[0]))

            readable_node = article_content.first_element_child()
            final_html_content = inner_html(article_content)
            final_text_content = go_trim_space(text_content(article_content))

        final_byline = metadata["byline"] or self.article_byline
        excerpt = " ".join(go_fields(metadata["excerpt"]))

        return Article(
            title=self.article_title,
            byline=final_byline,
            content=final_html_content,
            text_content=final_text_content,
            length=char_count(final_text_content),
            excerpt=excerpt,
            site_name=metadata["siteName"],
            image=metadata["image"],
            favicon=metadata["favicon"],
            language=self.article_lang,
            published_time=parse_date(metadata["publishedTime"]),
            modified_time=parse_date(metadata["modifiedTime"]),
            node=readable_node,
        )

    def parse(self, html_source, page_url: str | None = None) -> Article:
        """readability.go:24-27 FromReader equivalent."""
        return self.parse_document(parse_html(html_source), page_url)


def from_document(doc: Node, page_url: str | None = None, **options) -> Article:
    """Parse an already-built DOM. Clones first so the caller's document
    stays untouched (the reference does the same at parser-parse.go:29 —
    its test generator reuses the doc for CheckDocument afterwards). The
    pipeline's hot path calls Parser.parse_document directly and skips the
    clone because the UDF owns the tree."""
    return Parser(**options).parse_document(doc.clone(True), page_url)


def from_reader(html_source, page_url: str | None = None, **options) -> Article:
    return Parser(**options).parse(html_source, page_url)


def from_url(page_url: str, timeout: float = 30.0, **options) -> Article:
    """readability.go:40-71: HTTP GET with timeout + text/html content-type
    gate, then parse. Single-document convenience only — the cluster
    pipeline reads an already-fetched corpus table (SURVEY.md §2a)."""
    from urllib.parse import urlsplit
    from urllib.request import Request, urlopen

    parts = urlsplit(page_url)
    if not parts.scheme or not parts.netloc:
        raise ValueError(f"failed to parse URL: {page_url}")
    req = Request(page_url, headers={"User-Agent": "go-readability-spark/0.1"})
    with urlopen(req, timeout=timeout) as resp:  # noqa: S310 — explicit user call
        content_type = resp.headers.get("Content-Type", "")
        if "text/html" not in content_type:
            raise ValueError(f"URL is not a HTML document: {content_type}")
        body = resp.read()
    return Parser(**options).parse(body, page_url)
