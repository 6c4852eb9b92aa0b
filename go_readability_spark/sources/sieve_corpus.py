"""Short pages that drive Readability's retry sieve, and their pins.

The sieve (``Parser._grab_article``) re-runs the grab with one flag turned
off whenever an attempt's text is under ``char_thresholds``. The pages
here are mostly short, and their class, id and role values are drawn from
the vocabularies in ``readability/regexps.py`` (unlikely candidates,
positive and negative weights, byline, share), mixed with hidden nodes,
``aria-modal`` dialogs, ``rel=author`` and ``ul``/``table``/``form``/
``figure``/``pre`` blocks, so every flag-gated branch fires on some pages
and stays idle on others.

``sieve_corpus`` returns the four hand-written ``TARGETED_PAGES`` (one per
sieve guard) followed by ``n`` seeded pages. ``SIEVE_PINS`` holds one md5
per url over every ``extract_record`` field, ungated and gated. They are
regression pins, frozen from the code that wrote them; they are not
reference parity. Regenerate with ``python scripts/make_sieve_pins.py``.

``long_corpus`` is the second pinned corpus (``LONG_PINS``): long pages
with several scored candidates, where the decisions past the sieve are
made. A main column sits among sibling ``div``s whose scores straddle the
sibling-merge threshold (a fifth of the top score), some of them sharing
its class, or among columns of similar score; link-heavy blocks with a
positive class (weight >= 25) put link densities on both sides of
``_clean_conditionally``'s 0.5 bound. A tail of ``synth_page`` pages with
many paragraphs follows. Regenerate with
``python scripts/make_sieve_pins.py long``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from datetime import datetime

from ..readability import regexps as rx

SIEVE_PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sieve_pins.json")
SIEVE_SEED = 5
SIEVE_PAGES = 3000
LONG_PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "long_pins.json")
LONG_SEED = 11
LONG_PAGES = 400
LONG_SYNTH_PAGES = 20


def _alternatives(pattern) -> tuple:
    """The plain-word alternatives of one of regexps' DFA patterns."""
    return tuple(w for w in pattern.pattern.split("|") if "\\" not in w)


_UNLIKELY = _alternatives(rx.RX_UNLIKELY_CANDIDATES)
_MAYBE = _alternatives(rx.RX_MAYBE_CANDIDATE)
_POSITIVE = _alternatives(rx.RX_POSITIVE_CLASS)
_NEGATIVE = _alternatives(rx.RX_NEGATIVE_CLASS)
_BYLINE = _alternatives(rx.RX_BYLINE)
_SHARE = ("share", "sharedaddy", "share-tools")
_NEUTRAL = ("box", "wrap", "inner", "item", "unit", "x1", "lead", "note")
# a class/id token picks a vocabulary, then a word; a quarter are neutral
_VOCABS = (_UNLIKELY, _MAYBE, _POSITIVE, _NEGATIVE, _BYLINE, _SHARE,
           _NEUTRAL, _NEUTRAL)
_ROLES = (*sorted(rx.UNLIKELY_ROLES), "main", "article", "region")
_HIDDEN = (("style", "display:none"), ("style", "visibility: hidden"),
           ("hidden", ""), ("aria-hidden", "true"))

_WORDS = (
    "river stone market window garden engine signal harbor winter paper "
    "copper valley orbit lantern meadow circuit ledger canyon thread pilot "
    "the and of to in is it for on with that was"
).split()


def _rng(seed: int, idx: int) -> random.Random:
    h = hashlib.sha256(f"sieve:{seed}:{idx}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def _sentence(rng, lo=4, hi=14) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(lo, hi))]
    for _ in range(rng.randint(0, 3)):
        i = rng.randrange(len(words))
        words[i] += ","
    return " ".join(words).capitalize() + "."


def _text(rng, lo=1, hi=3) -> str:
    return " ".join(_sentence(rng) for _ in range(rng.randint(lo, hi)))


def _token(rng) -> str:
    word = rng.choice(rng.choice(_VOCABS))
    return rng.choice(("", "post-", "x-")) + word + rng.choice(("", "", "-box", "_1"))


def _attrs(rng) -> str:
    """A random class/id/role/hidden/byline attribute string (often empty)."""
    out = []
    if rng.random() < 0.45:
        out.append(("class", " ".join(_token(rng) for _ in range(rng.randint(1, 2)))))
    if rng.random() < 0.2:
        out.append(("id", _token(rng)))
    r = rng.random()
    if r < 0.06:
        out.append(("role", rng.choice(_ROLES)))
    elif r < 0.09:
        out.append(rng.choice(_HIDDEN))
    elif r < 0.11:
        out += [("aria-modal", "true"), ("role", "dialog")]
    elif r < 0.13:
        out.append(("rel", "author"))
    elif r < 0.14:
        out.append(("itemprop", "author"))
    return "".join(f' {k}="{v}"' if v else f" {k}" for k, v in out)


def _block(rng, depth: int) -> str:
    kind = rng.random()
    a = _attrs(rng)
    if depth >= 3 or kind < 0.30:
        text = _text(rng) if rng.random() < 0.8 else _text(rng, 4, 9)
        return f"<p{a}>{text}</p>"
    if kind < 0.50:
        tag = rng.choice(("div", "div", "section", "article", "aside", "nav",
                          "header", "footer", "blockquote"))
        inner = "".join(_block(rng, depth + 1) for _ in range(rng.randint(1, 3)))
        if rng.random() < 0.3:
            inner = _sentence(rng) + inner  # loose phrasing text in the container
        return f"<{tag}{a}>{inner}</{tag}>"
    if kind < 0.58:
        tag = rng.choice(("ul", "ol"))
        items = "".join(
            f"<li{_attrs(rng)}>" + (
                f'<a href="/{rng.choice(_WORDS)}">{_sentence(rng, 1, 3)}</a>'
                if rng.random() < 0.5 else _sentence(rng, 2, 8)) + "</li>"
            for _ in range(rng.randint(1, 6)))
        return f"<{tag}{a}>{items}</{tag}>"
    if kind < 0.66:
        rows = "".join(
            "<tr>" + "".join(f"<td>{_sentence(rng, 1, 5)}</td>"
                             for _ in range(rng.randint(1, 3))) + "</tr>"
            for _ in range(rng.randint(1, 4)))
        return f"<table{a}>{rows}</table>"
    if kind < 0.72:
        fields = "".join(
            f'<label>{rng.choice(_WORDS)}</label><input name="f{i}">'
            for i in range(rng.randint(0, 3)))
        return f"<form{a}>{_sentence(rng, 2, 6)}{fields}<button>Go</button></form>"
    if kind < 0.78:
        img = f'<img src="/img/{rng.randrange(100)}.jpg">' * rng.randint(1, 3)
        return f"<figure{a}>{img}<figcaption>{_sentence(rng, 2, 6)}</figcaption></figure>"
    if kind < 0.82:
        return f"<pre{a}><code>{rng.choice(_WORDS)} = {rng.randrange(99)}, {_sentence(rng)}</code></pre>"
    if kind < 0.88:
        tag = rng.choice(("h1", "h2", "h3"))
        return f"<{tag}{a}>{_sentence(rng, 2, 6)}</{tag}>"
    if kind < 0.94:
        return f'<div{a}><a href="/{rng.choice(_WORDS)}">{_sentence(rng, 1, 4)}</a></div>'
    return f"<div{a}>{_sentence(rng, 2, 8)}<br><br>{_sentence(rng, 2, 8)}</div>"


def sieve_page(seed: int, idx: int) -> tuple[str, bytes]:
    """One seeded page: (url, html bytes)."""
    rng = _rng(seed, idx)
    head = ""
    if rng.random() < 0.8:
        head += f"<title>{_sentence(rng, 3, 7)}</title>"
    if rng.random() < 0.2:
        head += f'<meta name="author" content="{rng.choice(_WORDS).title()} Doe">'
    lang = f' lang="{rng.choice(("en", "de", "fr"))}"' if rng.random() < 0.5 else ""
    body = "".join(_block(rng, 0) for _ in range(rng.randint(1, 5)))
    html = f"<html{lang}><head>{head}</head><body{_attrs(rng)}>{body}</body></html>"
    return f"http://sieve.example/{seed}/{idx}.html", html.encode("utf-8")


_STORY = (
    "<p>The harbor signal turned green at dawn, and the pilots moved the "
    "copper barges up the river before the winter ice could close it.</p>"
    "<p>By noon the market by the canyon road was full again.</p>"
)

# One page per sieve guard. Each is short, so its first attempt is retried,
# and in each only the named guard decides anything.
TARGETED_PAGES = {
    # strip_unlikelys: one unlikely-candidate removal ("remark" carries no
    # class weight)
    "http://sieve.example/targeted/unlikely.html":
        "<html><body><article>" + _STORY
        + '<div class="remark">Readers wrote in about the lantern festival.</div>'
        "</article></body></html>",
    # use_weight_classes: one negative-weight class; _clean_headers drops
    # the heading only while class weights are on
    "http://sieve.example/targeted/weight.html":
        "<html><body><article>"
        '<h2 class="meta">Orbit of the paper lanterns</h2>' + _STORY
        + "</article></body></html>",
    # clean_conditionally: one form removed by _clean_conditionally
    # (one input and no paragraphs inside it)
    "http://sieve.example/targeted/clean.html":
        "<html><body><article>" + _STORY
        + '<form>Send the river ledger to a friend<input name="to"></form>'
        "</article></body></html>",
    # the byline: the first attempt sets it and drops the node; later
    # attempts keep the node
    "http://sieve.example/targeted/byline.html":
        "<html><body><article>"
        '<div class="byline">By Jane Roe</div>' + _STORY
        + "</article></body></html>",
}


def sieve_corpus(n: int = SIEVE_PAGES, seed: int = SIEVE_SEED) -> list[tuple[str, bytes]]:
    """The targeted pages, then ``n`` seeded pages: [(url, html bytes)]."""
    pages = [(url, html.encode("utf-8")) for url, html in TARGETED_PAGES.items()]
    pages += [sieve_page(seed, i) for i in range(n)]
    return pages


# class values with a class weight of +25, 0 and -25 that no unlikely
# candidate pattern matches
_MAIN_CLASSES = ("article-body", "post-content", "entry", "story", "main-text",
                 "blog-post")
_LINK_CLASSES = ("content-links", "story-more", "entry-refs", "post-index")
_SIBLING_CLASSES = ("", "", "box", "column", "note", "card", "teaser", "lead",
                    "meta", "promo", "story", "entry")


def _exact(rng, n: int) -> str:
    """Text of exactly ``n`` characters, no comma, that ``get_inner_text``
    leaves as it is (no edge space, no double space)."""
    out = ""
    while len(out) < n:
        out += rng.choice(_WORDS) + " "
    out = out[:n]
    return out[:-1] + "s" if out.endswith(" ") else out


def _long_paragraph(rng) -> str:
    """A paragraph of 40-480 characters with 0-6 commas: its score spans
    1 + commas + min(len // 100, 3)."""
    words = _exact(rng, rng.randint(40, 480)).split(" ")
    for _ in range(rng.randint(0, 6)):
        i = rng.randrange(len(words))
        words[i] += ","
    return "<p>" + " ".join(words).capitalize() + ".</p>"


def _link_block(rng) -> str:
    """A ``div`` with a positive class whose link density lands near 0.5:
    n characters of text, round(n * r) of them link text."""
    n = rng.randint(60, 260)
    link = round(n * rng.uniform(0.46, 0.56))
    tail = rng.randint(1, n - link - 3)
    rest = n - link - 1 - tail
    href = rng.choice(("/more", "/" + rng.choice(_WORDS), "https://elsewhere.example/x"))
    return (f'<div class="{rng.choice(_LINK_CLASSES)}"><p><a href="{href}">'
            f"{_exact(rng, link)}</a> {_exact(rng, tail)}</p><p>{_exact(rng, rest)}</p></div>")


def _column(rng, cls: str, lo: int, hi: int) -> str:
    attr = f' class="{cls}"' if cls else ""
    paragraphs = [_long_paragraph(rng) for _ in range(rng.randint(lo, hi))]
    if rng.random() < 0.25:
        paragraphs.insert(rng.randrange(len(paragraphs) + 1), _link_block(rng))
    return f"<div{attr}>{''.join(paragraphs)}</div>"


def long_page(seed: int, idx: int) -> tuple[str, bytes]:
    """One seeded multi-candidate page: (url, html bytes)."""
    rng = _rng(seed, 100_000 + idx)
    main_cls = rng.choice(_MAIN_CLASSES)
    main = [_long_paragraph(rng) for _ in range(rng.randint(4, 12))]
    for _ in range(rng.choice((0, 1, 1, 2, 3))):
        main.insert(rng.randrange(len(main) + 1), _link_block(rng))
    parts = [f'<div class="{main_cls}">{"".join(main)}</div>']
    if rng.random() < 0.25:
        # columns of similar score: the alternative-ancestor promotion
        parts += [_column(rng, rng.choice(_SIBLING_CLASSES), 4, 10)
                  for _ in range(rng.randint(2, 4))]
    else:
        for _ in range(rng.randint(1, 5)):
            r = rng.random()
            if r < 0.55:
                cls = main_cls if rng.random() < 0.2 else rng.choice(_SIBLING_CLASSES)
                parts.append(_column(rng, cls, 1, 4))
            elif r < 0.75:
                parts.append(_link_block(rng))
            elif r < 0.9:
                parts.append(_long_paragraph(rng))
            else:
                parts.append(f'<p><a href="/{rng.choice(_WORDS)}">{_sentence(rng, 2, 6)}</a></p>')
    rng.shuffle(parts)
    title = _sentence(rng, 3, 7)
    heading = f"<h1>{title}</h1>" if rng.random() < 0.5 else ""
    nav = ('<div class="menu">' + "".join(
        f'<a href="/{w}">{w}</a> ' for w in rng.sample(_WORDS, 6)) + "</div>"
        if rng.random() < 0.5 else "")
    body = f'{nav}<div class="{rng.choice(_SIBLING_CLASSES)}">{heading}{"".join(parts)}</div>'
    html = f"<html><head><title>{title}</title></head><body>{body}</body></html>"
    return f"http://long.example/{seed}/{idx}.html", html.encode("utf-8")


def long_corpus(n: int = LONG_PAGES, seed: int = LONG_SEED,
                n_synth: int = LONG_SYNTH_PAGES) -> list[tuple[str, bytes]]:
    """``n`` seeded multi-candidate pages, then ``n_synth`` ``synth_page``
    pages of 20-80 paragraphs: [(url, html bytes)]."""
    from .synthetic import synth_page

    pages = [long_page(seed, i) for i in range(n)]
    for i in range(n_synth):
        row = synth_page(seed, i, "long.example.org", 20 + (i * 37) % 61)
        pages.append((row["url"], row["html"]))
    return pages


def _canon(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime):
        return v.isoformat()
    return str(v)


def record_digest(rec) -> str | None:
    """md5 over every field of one ``extract_record`` result (None stays None)."""
    if rec is None:
        return None
    joined = "\u001f".join(f"{k}={_canon(rec[k])}" for k in sorted(rec))
    return hashlib.md5(joined.encode("utf-8")).hexdigest()


def corpus_digests(pages) -> dict:
    """{url: [ungated digest, gated digest]} for the given pages."""
    from ..plans.extract import extract_record

    return {
        url: [record_digest(extract_record(url, html)),
              record_digest(extract_record(url, html, readerable_gate=True))]
        for url, html in pages
    }


def load_sieve_pins(path: str = SIEVE_PINS) -> dict:
    with open(path) as f:
        return json.load(f)
