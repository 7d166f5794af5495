"""A from-scratch wiki-template tokenizer.

Produces, for a page's wikitext, the list of template instances with
their raw parameter strings — the same observable shape the reference
consumes from ``pywikibot.Page.templatesWithParams()``
(pywdcollections.py:344-355): one ``(name, [param, ...])`` per
instance, params kept raw (named params stay ``"key=value"``, values
unstripped — the reference strips them itself at :362-363 and
deliberately does NOT strip positional params at :386).

Behavioral contract (matched against fixture semantics):
 * brace matching with nesting — ``{{a|x={{b|1}}}}`` yields both
   ``a`` (param ``x={{b|1}}``) and the nested ``b``;
 * parameters split on top-level ``|`` only — pipes inside nested
   ``{{...}}`` or ``[[...]]`` do not split;
 * template name: text before the first top-level ``|``, surrounding
   whitespace stripped; matching is done lowercase downstream
   (pywdcollections.py:294-305);
 * parser functions / magic words (name starting ``#`` or containing
   ``:`` like ``DISPLAYTITLE:``) are skipped, as pywikibot's template
   enumeration skips non-template transclusions;
 * unbalanced/stray braces never raise — unterminated opens are
   ignored (web text is adversarial at 10^12-page scale).

Everything is pure Python over str — called only from Arrow-batched
pandas UDFs (pywdcollections_spark.operators.parse).
"""

from __future__ import annotations

import re

_TOKEN_SPLIT = re.compile(r"\{\{|\}\}|\[\[|\]\]|\|")
_TOKEN_BRACES = re.compile(r"\{\{|\}\}")


def _split_top_level(body: str) -> list[str]:
    """Split on '|' ignoring pipes nested in {{ }} or [[ ]].

    Token-jump scan (single regex pass over the 5 significant tokens)
    rather than char-by-char — pages are KBs of prose, markers are
    sparse."""
    parts: list[str] = []
    depth_tpl = 0
    depth_link = 0
    start = 0
    for mo in _TOKEN_SPLIT.finditer(body):
        tok = mo.group()
        if tok == "{{":
            depth_tpl += 1
        elif tok == "}}":
            if depth_tpl > 0:
                depth_tpl -= 1
        elif tok == "[[":
            depth_link += 1
        elif tok == "]]":
            if depth_link > 0:
                depth_link -= 1
        elif depth_tpl == 0 and depth_link == 0:  # '|'
            parts.append(body[start:mo.start()])
            start = mo.end()
    parts.append(body[start:])
    return parts


def _find_instances(text: str) -> list[str]:
    """Return the body (inside braces) of every template instance,
    including nested ones, in document order of their opening.
    Unterminated opens (stray braces) are dropped."""
    stack: list[int] = []  # positions just after each '{{'
    order: list[tuple[int, str]] = []
    for mo in _TOKEN_BRACES.finditer(text):
        if mo.group() == "{{":
            stack.append(mo.end())
        elif stack:
            start = stack.pop()
            order.append((start, text[start:mo.start()]))
    order.sort(key=lambda t: t[0])
    return [b for _, b in order]


def _has_top_level_eq(param: str) -> bool:
    depth_tpl = 0
    depth_link = 0
    i, n = 0, len(param)
    while i < n:
        two = param[i:i + 2]
        if two == "{{":
            depth_tpl += 1
            i += 2
        elif two == "}}" and depth_tpl > 0:
            depth_tpl -= 1
            i += 2
        elif two == "[[":
            depth_link += 1
            i += 2
        elif two == "]]" and depth_link > 0:
            depth_link -= 1
            i += 2
        elif param[i] == "=" and depth_tpl == 0 and depth_link == 0:
            return True
        else:
            i += 1
    return False


def parse_templates(text: str | None) -> list[dict]:
    """Tokenize one page: list of {'name': str, 'params': [str, ...]}.

    ``name`` is whitespace-stripped but case-preserved; lowercasing
    happens at the mapping join (pywdcollections.py:334,349).

    Param ordering mirrors pywikibot's templatesWithParams: positional
    parameters first (document order), then named ``key=value`` params
    (document order) — the reference's first-param-only positional rule
    (pywdcollections.py:386-393) observes this order.
    """
    if not text:
        return []
    out: list[dict] = []
    for body in _find_instances(text):
        parts = _split_top_level(body)
        name = parts[0].strip()
        if not name or name.startswith("#") or ":" in name:
            continue  # parser function / magic word / interwiki
        positional = [p for p in parts[1:] if not _has_top_level_eq(p)]
        named = [p for p in parts[1:] if _has_top_level_eq(p)]
        out.append({"name": name, "params": positional + named})
    return out
