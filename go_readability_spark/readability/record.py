"""The per-document kernel: one page's bytes in, one article record
out.  Every extraction surface runs it: the Spark plans
(``plans/extract.py``), the SQL UDFs, and the CLI/HTTP ``parse``; this
module imports no Spark, so the single-document surfaces start without
it."""

from __future__ import annotations

from datetime import timezone


def _utc_naive(dt):
    if dt is None:
        return None
    if dt.tzinfo is not None:
        return dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


def release_trees(*nodes) -> None:
    """Unlink every distinct tree the given nodes belong to (None skipped).

    The DOM is reference-cyclic, and leaving ~10^5 dead cyclic nodes per
    document to Python's generational GC caused repeated full collections
    that dominated per-doc latency (a measured 740 ms pause inside one
    clone). Unlinked trees free by refcount and the cyclic collector
    stays idle."""
    from ..dom import unlink_tree

    roots = []
    for node in nodes:
        if node is None:
            continue
        while node.parent is not None:
            node = node.parent
        if all(node is not r for r in roots):
            roots.append(node)
    for root in roots:
        unlink_tree(root)


def extract_record(url, html_bytes, readerable_gate=False, debug=False):
    """Run the full readability extraction for one page; never raises.

    With ``readerable_gate`` a page whose parse or Check fails (returns
    False or raises) yields None straight after Check, before any
    scoring; a page that passes Check keeps its record, error rows
    included. ``debug`` logs the parser's removal and scoring decisions
    (the CLI's ``parse --debug``). The parsed tree and every grab-attempt
    clone are torn down (release_trees) before returning."""
    from ..dom import parse_html
    from ..readability import Parser, check_document

    out = {
        "url": url, "title": "", "byline": "", "content": "",
        "text_content": "", "length": 0, "excerpt": "", "site_name": "",
        "image": "", "favicon": "", "lang": "", "published_time": None,
        "modified_time": None, "readerable": None, "error": None,
    }
    doc = None
    art_node = None
    ps = Parser(debug=debug)
    try:
        doc = parse_html(html_bytes if html_bytes is not None else b"")
        out["readerable"] = check_document(doc)
        if readerable_gate and not out["readerable"]:
            return None
        art = ps.parse_document(doc, url)
        art_node = art.node
        out.update(
            title=art.title, byline=art.byline, content=art.content,
            text_content=art.text_content, length=art.length,
            excerpt=art.excerpt, site_name=art.site_name, image=art.image,
            favicon=art.favicon, lang=art.language,
            published_time=_utc_naive(art.published_time),
            modified_time=_utc_naive(art.modified_time),
        )
    except Exception as exc:  # per-row error capture — never fail the task
        if readerable_gate and not out["readerable"]:
            return None
        out["error"] = f"{type(exc).__name__}: {exc}"
    finally:
        # losing retry-sieve attempts keep whole document clones alive
        # (parser.attempts holds their article nodes) — tear down every
        # distinct attempt tree plus the winning clone and the source doc
        release_trees(art_node, *(a for a, _ in ps.attempts), doc)
    return out
