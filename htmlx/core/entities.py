"""HTML entity replacement — port of the reference's custom decision tree.

The reference does NOT use a spec unescaper for post-parse text (Python's
``html.unescape`` is not byte-equivalent): it maps ``&nbsp;``/``&#xa0;`` to a
regular space, preserves invalid entities literally, and guards numeric
entities.  Ported from ``internal/helpers.go:172-236, 632-995``.
"""

from __future__ import annotations

import html as _stdhtml

# The 10 common entities of the fast path (helpers.go:187-207), ordered as in
# the reference switch. Maps entity -> (replacement, length).
_COMMON = (
    ("&amp;", "&"),
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&copy;", "©"),
    ("&reg;", "®"),
    ("&mdash;", "—"),
    ("&ndash;", "–"),
)

# Typographic/extended named entities (helpers.go:632-673 entityReplacer).
_EXTENDED = {
    "&hellip;": "…",
    "&trade;": "™",
    "&euro;": "€",
    "&pound;": "£",
    "&cent;": "¢",
    "&yen;": "¥",
    "&curren;": "¤",
    "&sect;": "§",
    "&para;": "¶",
    "&plusmn;": "±",
    "&times;": "×",
    "&divide;": "÷",
    "&frac12;": "½",
    "&frac14;": "¼",
    "&frac34;": "¾",
    "&deg;": "°",
    "&prime;": "'",
    "&Prime;": '"',
    "&sup1;": "¹",
    "&sup2;": "²",
    "&sup3;": "³",
    "&middot;": "·",
    "&bull;": "•",
    "&rsquo;": "'",
    "&lsquo;": "'",
    "&rdquo;": '"',
    "&ldquo;": '"',
    "&sbquo;": "‚",
    "&bdquo;": "„",
    "&dagger;": "†",
    "&Dagger;": "‡",
    "&permil;": "‰",
    "&micro;": "µ",
}

_MAX_NUMERIC_ENTITY_LEN = 10  # helpers.go:915


def _is_valid_entity_name(name: str) -> bool:
    """helpers.go:973-983 — ASCII alphanumeric only, non-empty."""
    if not name:
        return False
    for c in name:
        if not ("a" <= c <= "z" or "A" <= c <= "Z" or "0" <= c <= "9"):
            return False
    return True


def replace_numeric_entity(text: str, start: int) -> tuple[str, int]:
    """Port of replaceNumericEntity (helpers.go:895-970).

    Returns (replacement, consumed chars)."""
    n = len(text)
    if start + 2 >= n or text[start + 1] != "#":
        return text[start], 1
    semi = text.find(";", start)
    if semi == -1:
        return text[start], 1
    entity = text[start + 2 : semi]
    if not entity:
        return text[start : semi + 1], semi - start + 1
    if len(entity) > _MAX_NUMERIC_ENTITY_LEN:
        return text[start : semi + 1], semi - start + 1
    if entity[0] in "xX":
        digits = entity[1:]
        if not digits:
            return text[start : semi + 1], semi - start + 1
        for c in digits:
            if not ("0" <= c <= "9" or "a" <= c <= "f" or "A" <= c <= "F"):
                return text[start : semi + 1], semi - start + 1
        num = int(digits, 16)
    else:
        for c in entity:
            if not ("0" <= c <= "9"):
                return text[start : semi + 1], semi - start + 1
        num = int(entity, 10)
    if num < 0 or num > 0x10FFFF:
        return text[start : semi + 1], semi - start + 1
    if 0xD800 <= num <= 0xDFFF:
        return "�", semi - start + 1
    if num == 0xA0:
        # NBSP numeric entity -> regular space, consistent with &nbsp;
        return " ", semi - start + 1
    return chr(num), semi - start + 1


def _decode_entity_fallback(entity: str) -> str:
    """helpers.go:985-995 — stdlib HTML5 named-entity table; unrecognized
    entities come back unchanged (Python matches Go here: both implement the
    WHATWG named-references table for the '&name;' form)."""
    decoded = _stdhtml.unescape(entity)
    return decoded if decoded != entity else entity


def replace_entity_at(text: str, pos: int) -> tuple[str, int]:
    """Port of replaceEntityAt (helpers.go:172-230): one entity at ``pos``."""
    n = len(text)
    if pos >= n or text[pos] != "&":
        return "&", 1
    if pos + 1 >= n:
        return "&", 1
    rem = n - pos
    # common-entity fast path, same order as the reference
    for ent, rep in _COMMON:
        le = len(ent)
        if rem >= le and text[pos : pos + le] == ent:
            return rep, le
    if text[pos + 1] == "#":
        return replace_numeric_entity(text, pos)
    semi = text.find(";", pos)
    if semi == -1:
        return "&", 1
    name = text[pos + 1 : semi]
    if not _is_valid_entity_name(name):
        return "&", 1
    decoded = _stdhtml.unescape(text[pos : semi + 1])
    return decoded, semi - pos + 1


def _fast_replace_common(text: str) -> str:
    """Port of fastReplaceCommonEntities (helpers.go:709-829)."""
    first_amp = text.find("&")
    if first_amp == -1:
        return text
    n = len(text)
    # detect whether any common entity is present
    has_common = False
    i = first_amp
    while i != -1:
        rem = n - i
        for ent, _ in _COMMON:
            if rem >= len(ent) and text.startswith(ent, i):
                has_common = True
                break
        if has_common:
            break
        i = text.find("&", i + 1)
    if not has_common:
        return text
    out = [text[:first_amp]]
    i = first_amp
    while i < n:
        c = text[i]
        if c != "&":
            nxt = text.find("&", i + 1)
            if nxt == -1:
                out.append(text[i:])
                break
            out.append(text[i:nxt])
            i = nxt
            continue
        rem = n - i
        if rem < 4:
            out.append(c)
            i += 1
            continue
        matched = False
        for ent, rep in _COMMON:
            le = len(ent)
            if rem >= le and text.startswith(ent, i):
                out.append(rep)
                i += le
                matched = True
                break
        if not matched:
            out.append(c)
            i += 1
    return "".join(out)


def _replace_entities_full(text: str) -> str:
    """Port of replaceHTMLEntitiesFull (helpers.go:832-890): numeric entities
    and stdlib-fallback named entities."""
    if "&" not in text:
        return text
    out = []
    i = 0
    n = len(text)
    while i < n:
        c = text[i]
        if c != "&":
            nxt = text.find("&", i + 1)
            if nxt == -1:
                out.append(text[i:])
                break
            out.append(text[i:nxt])
            i = nxt
            continue
        if i + 1 >= n:
            out.append(c)
            break
        if text[i + 1] == "#":
            rep, consumed = replace_numeric_entity(text, i)
            out.append(rep)
            i += consumed
            continue
        semi = text.find(";", i)
        if semi == -1:
            out.append(c)
            i += 1
            continue
        name = text[i + 1 : semi]
        if not _is_valid_entity_name(name):
            out.append(c)
            i += 1
            continue
        out.append(_decode_entity_fallback("&" + name + ";"))
        i = semi + 1
    return "".join(out)


def replace_html_entities(text: str) -> str:
    """Port of ReplaceHTMLEntities (helpers.go:679-703)."""
    if "&" not in text:
        return text
    result = _fast_replace_common(text)
    if result != text:
        return _replace_entities_full(result)
    # slow path: '&' present but no common entity matched
    if ";" in text:
        for ent, rep in _EXTENDED.items():
            if ent in text:
                text = text.replace(ent, rep)
    return _replace_entities_full(text)
