"""Text normalization helpers — ports of internal/helpers.go.

Parity-critical: CleanText (helpers.go:238-381), normalizeText
(helpers.go:87-168), GetTextContent (helpers.go:479-591), word-boundary
matching (helpers.go:21-70). Semantics are character-for-character.
"""

from __future__ import annotations

import re

from .dom import TEXT, Node, walk_nodes
from .entities import replace_entity_at, replace_html_entities

_SPACE_RUNS = re.compile(r"[ \t]+")

BOUNDARY_STANDARD = 0
BOUNDARY_CSS = 1

_STD_BOUNDARY = frozenset("-_ \t")
_CSS_BOUNDARY = frozenset(";: \t{}\"")


def has_word_boundary(text: str, pattern: str, charset: int = BOUNDARY_STANDARD) -> bool:
    """Port of hasWordBoundary (helpers.go:33-57).

    NOTE: only the FIRST occurrence of ``pattern`` is tested (the reference
    uses strings.Index once and never retries later occurrences)."""
    idx = text.find(pattern)
    if idx == -1:
        return False
    bset = _CSS_BOUNDARY if charset == BOUNDARY_CSS else _STD_BOUNDARY
    if idx > 0 and text[idx - 1] not in bset:
        return False
    end = idx + len(pattern)
    if end < len(text) and text[end] not in bset:
        return False
    return True


def normalize_nbsp(s: str) -> str:
    """normalizeNonBreakingSpaces (helpers.go:75-82)."""
    if " " not in s:
        return s
    return s.replace(" ", " ")


def normalize_text(s: str) -> str:
    """Port of normalizeText (helpers.go:87-168): single pass replacing
    NBSP->space, \\n->space, dropping \\r, and decoding entities at '&'."""
    if not s:
        return s
    has_nbsp = " " in s
    has_newline = ("\n" in s) or ("\r" in s)
    has_amp = "&" in s
    if not (has_nbsp or has_newline or has_amp):
        return s
    if has_amp and not has_nbsp and not has_newline:
        return replace_html_entities(s)
    out = []
    i = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c == "\n":
            out.append(" ")
            i += 1
        elif c == "\r":
            i += 1
        elif c == " ":
            out.append(" ")
            i += 1
        elif c == "&":
            rep, consumed = replace_entity_at(s, i)
            out.append(rep)
            i += consumed
        else:
            # copy a run of plain chars
            j = i
            while j < n and s[j] not in "\n\r &":
                j += 1
            out.append(s[i:j])
            i = j
    return "".join(out)


_UNWANTED = {"☒": "[X]", "☐": "[ ]", "☑": "[X]"}


def clean_text(text: str) -> str:
    """Port of CleanText (helpers.go:238-381).

    Line-by-line: preserve leading-space indent, trim trailing space/tab,
    compress internal space/tab runs, collapse >=2 blank lines to exactly
    one, checkbox chars to [X]/[ ], then entity replacement. NBSP is NOT
    replaced here (it was normalized earlier in the pipeline); it only
    forces the slow path, mirroring the reference."""
    if not text:
        return ""
    has_newlines = "\n" in text
    has_nbsp = " " in text
    has_amp = "&" in text
    has_unwanted = any(ch in text for ch in _UNWANTED)
    has_multiple_spaces = "\t" in text or "  " in text

    if not (has_newlines or has_multiple_spaces or has_nbsp or has_unwanted):
        if has_amp:
            return replace_html_entities(text)
        return text

    out = []
    previous_was_empty = False
    for raw_line in text.split("\n"):
        is_empty = True
        if raw_line:
            # leading indent: spaces only (not tabs), helpers.go:300-303
            first_non_space = 0
            ll = len(raw_line)
            while first_non_space < ll and raw_line[first_non_space] == " ":
                first_non_space += 1
            indent = raw_line[:first_non_space]
            content = raw_line[first_non_space:]
            if content:
                # trim trailing spaces/tabs
                content = content.rstrip(" \t")
                if content:
                    if out:
                        if previous_was_empty:
                            out.append("\n")
                        out.append("\n")
                    out.append(indent)
                    # compress internal space/tab runs to single spaces
                    if "\t" in content or "  " in content:
                        out.append(_SPACE_RUNS.sub(" ", content))
                    else:
                        out.append(content)
                    is_empty = False
        previous_was_empty = is_empty

    result = "".join(out)
    if has_unwanted:
        for k, v in _UNWANTED.items():
            result = result.replace(k, v)
    if has_amp:
        return replace_html_entities(result)
    return result


_WS = " \t\n\r"


def get_text_content(node: Node) -> str:
    """Port of GetTextContent (helpers.go:479-591): concatenated, trimmed
    text of all text nodes under ``node`` with inter-node spacing derived
    from the original leading/trailing whitespace."""
    buf: list[str] = []
    buf_len = 0
    prev_ended_with_space = False

    def visit(n: Node) -> bool:
        nonlocal buf_len, prev_ended_with_space
        if n.type != TEXT:
            return True
        data = n.data
        dlen = len(data)
        if dlen == 0:
            return True
        start = 0
        while start < dlen and (data[start] in _WS or data[start] == " "):
            start += 1
        if start >= dlen:
            prev_ended_with_space = True
            return True
        end = dlen - 1
        while end > start and (data[end] in _WS or data[end] == " "):
            end -= 1
        started_with_space = start > 0
        ended_with_space = end < dlen - 1
        trimmed = data[start : end + 1]

        if ("\n" in trimmed) or ("\r" in trimmed) or ("&" in trimmed) or (" " in trimmed):
            parts = []
            i = 0
            tl = len(trimmed)
            while i < tl:
                c = trimmed[i]
                if c == "\n" or c == "\r" or c == " ":
                    parts.append(" ")
                    i += 1
                elif c == "&":
                    rep, consumed = replace_entity_at(trimmed, i)
                    parts.append(rep)
                    i += consumed
                else:
                    j = i
                    while j < tl and trimmed[j] not in "\n\r &":
                        j += 1
                    parts.append(trimmed[i:j])
                    i = j
            text = "".join(parts)
        else:
            text = trimmed

        if text:
            needs_space = prev_ended_with_space
            if not needs_space and buf_len > 0:
                needs_space = started_with_space
            if buf_len > 0 and needs_space:
                buf.append(" ")
                buf_len += 1
            buf.append(text)
            buf_len += len(text)
        prev_ended_with_space = ended_with_space
        return True

    walk_nodes(node, visit)
    return "".join(buf)
