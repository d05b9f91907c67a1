"""DOM sanitization — port of internal/sanitize.go.

Removes script/style/noscript/iframe/embed/object/input/button/svg/math
subtrees, strips on*/formaction/autofocus attributes, dangerous CSS values,
and dangerous URI schemes (javascript:/vbscript:/file:, fullwidth-Unicode
variants, unsafe data: URLs). Each removal emits an audit event.
"""

from __future__ import annotations

import re
import time
import unicodedata

from .dom import ELEMENT, Node

# sanitize.go:10-26
TAGS_TO_REMOVE = frozenset(
    "script style noscript iframe embed object input button svg math".split()
)

# sanitize.go:30-34
DANGEROUS_ATTRIBUTES = frozenset(("formaction", "autofocus"))

# sanitize.go:37-43
DANGEROUS_CSS_PATTERNS = ("expression(", "behavior:", "-moz-binding:", "javascript:", "vbscript:")

# sanitize.go:70-85
URI_ATTRIBUTES = frozenset(
    "href src cite action data poster background longdesc usemap profile xlink:href".split()
)

MAX_AUDIT_URL_LENGTH = 256  # sanitize.go:48
MAX_DATA_URI_LENGTH = 100000  # constants.go:7

# sanitize.go:573-581
SAFE_MEDIA_TYPES = frozenset(
    (
        "image/gif image/jpeg image/jpg image/png image/webp image/bmp "
        "image/x-icon image/vnd.microsoft.icon image/avif image/apng "
        "font/woff font/woff2 font/ttf font/otf "
        "application/font-woff application/font-woff2 application/pdf"
    ).split()
)


def _truncate_bytes(s: str, max_len: int, suffix: str) -> str:
    """Byte-based truncation (Go len()/slice, sanitize.go:51-56, audit.go:192).
    A slice that splits a multibyte char yields U+FFFD per STRAY BYTE — Go's
    utf8.DecodeRune consumes invalid sequences one byte at a time, so a
    3-byte char cut after 2 bytes renders as TWO replacement chars. Python's
    errors='replace' emits one per maximal subsequence and would diverge;
    _replace_per_byte reproduces the per-byte behavior."""
    if s.isascii():
        if len(s) <= max_len:
            return s
        return s[:max_len] + suffix
    b = s.encode("utf-8")
    if len(b) <= max_len:
        return s
    return _replace_per_byte(b[:max_len]) + suffix


def _replace_per_byte(b: bytes) -> str:
    """UTF-8 decode emitting one U+FFFD per invalid BYTE (Go's encoder
    semantics), not one per maximal invalid subsequence (Python's)."""
    out = []
    i = 0
    while i < len(b):
        try:
            out.append(b[i:].decode("utf-8"))
            break
        except UnicodeDecodeError as e:
            out.append(b[i : i + e.start].decode("utf-8"))
            out.append("�" * (e.end - e.start))
            i += e.end
    return "".join(out)


def _sanitize_raw_value(s: str) -> str:
    """sanitizeRawValue (audit.go:631-640): HTML-escape raw values so audit
    rows are safe to render in HTML contexts (order matters: & first)."""
    return (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
        .replace("'", "&#39;")
    )


def _audit_event(
    event_type: str,
    level: str,
    message: str,
    *,
    tag: str = "",
    attribute: str = "",
    blocked_url: str = "",
    input_size: int = 0,
    max_size: int = 0,
    depth: int = 0,
    max_depth: int = 0,
    raw_value: str = "",
) -> dict:
    return {
        "ts": 0.0,  # stamped by AuditRecorder.record
        "level": level,
        "event_type": event_type,
        "message": message,
        "tag": tag,
        "attribute": attribute,
        "blocked_url": blocked_url,
        "input_size": input_size,
        "max_size": max_size,
        "depth": depth,
        "max_depth": max_depth,
        "raw_value": raw_value,
    }


class AuditRecorder:
    """Collects audit events as plain dict rows (SURVEY.md §2.2: audit rows
    are data appended to the audit table, replacing the reference's sink
    zoo, audit.go:157-640). Field/level/message parity with AuditEntry
    (audit.go:52-67, 243-346); the sink interface is N/A by design — rows
    ARE the sink."""

    __slots__ = ("events", "include_raw_values", "max_raw_value_length")

    def __init__(self, include_raw_values: bool = False, max_raw_value_length: int = 200):
        self.events: list[dict] = []
        self.include_raw_values = include_raw_values
        self.max_raw_value_length = max_raw_value_length

    def record(self, event: dict) -> None:
        """Record (audit.go:184-206): stamp time, truncate raw value, drop it
        unless configured in, then HTML-escape what remains."""
        event["ts"] = time.time()
        raw = event["raw_value"]
        if raw:
            if self.max_raw_value_length > 0:
                raw = _truncate_bytes(raw, self.max_raw_value_length, "...")
            if not self.include_raw_values:
                raw = ""
            event["raw_value"] = _sanitize_raw_value(raw) if raw else ""
        self.events.append(event)

    def record_blocked_tag(self, tag: str) -> None:
        self.record(
            _audit_event(
                "blocked_tag", "warning", f"Blocked dangerous HTML tag: {tag}", tag=tag
            )
        )

    def record_blocked_attr(self, attr: str, value: str) -> None:
        self.record(
            _audit_event(
                "blocked_attr",
                "warning",
                f"Blocked dangerous attribute: {attr}",
                attribute=attr,
                raw_value=value,
            )
        )

    def record_blocked_url(self, url: str, reason: str) -> None:
        self.record(
            _audit_event(
                "blocked_url",
                "warning",
                f"Blocked dangerous URL: {reason}",
                blocked_url=url,
                raw_value=url,
            )
        )

    def record_input_violation(self, size: int, max_size: int, violation_type: str) -> None:
        """audit.go:285-298 + processor.go:333-345."""
        self.record(
            _audit_event(
                "input_violation",
                "critical",
                f"Input validation violation: {violation_type}",
                input_size=size,
                max_size=max_size,
            )
        )

    def record_depth_violation(self, depth: int, max_depth: int) -> None:
        self.record(
            _audit_event(
                "depth_violation",
                "warning",
                f"Depth limit exceeded: {depth} > {max_depth}",
                depth=depth,
                max_depth=max_depth,
            )
        )

    def record_timeout(self, timeout_s: float) -> None:
        self.record(
            _audit_event(
                "timeout",
                "warning",
                f"Processing timeout exceeded: {_go_duration(timeout_s)}",
            )
        )

    def record_encoding_issue(self, encoding: str, message: str) -> None:
        # Reference carries the encoding in a metadata map (audit.go:333);
        # this flat schema reuses `attribute` for it.
        self.record(_audit_event("encoding_issue", "info", message, attribute=encoding))


def _go_duration(seconds: float) -> str:
    """Render a duration the way Go fmt's %v prints time.Duration for the
    common cases ("30s", "1m30s", "500ms")."""
    if seconds <= 0:
        return "0s"
    if seconds < 1:
        return f"{seconds * 1000:g}ms"
    if seconds < 60:
        return f"{seconds:g}s"
    mins, secs = divmod(seconds, 60)
    hours, mins = divmod(int(mins), 60)
    if hours:
        return f"{hours}h{mins}m{secs:g}s"
    return f"{mins}m{secs:g}s"


class NoopAuditRecorder:
    """NoOpAuditRecorder (internal/audit.go:17-27): recording disabled —
    every hook is a no-op, so adversarial documents with thousands of
    blocked attributes pay nothing when audit is off."""

    __slots__ = ()
    events: tuple = ()

    def record(self, event: dict) -> None: ...
    def record_blocked_tag(self, tag: str) -> None: ...
    def record_blocked_attr(self, attr: str, value: str) -> None: ...
    def record_blocked_url(self, url: str, reason: str) -> None: ...
    def record_input_violation(self, size: int, max_size: int, violation_type: str) -> None: ...
    def record_depth_violation(self, depth: int, max_depth: int) -> None: ...
    def record_timeout(self, timeout_s: float) -> None: ...
    def record_encoding_issue(self, encoding: str, message: str) -> None: ...


NOOP_AUDIT = NoopAuditRecorder()


def _truncate_audit_url(url: str) -> str:
    """truncateAuditURL (sanitize.go:51-56) — applied by the DATA-URL call
    sites only (sanitize.go:513-562); scheme blocks keep the full URL."""
    return _truncate_bytes(url, MAX_AUDIT_URL_LENGTH, "...[truncated]")


def _sanitize_style_value(style: str) -> str:
    """sanitize.go:60-68."""
    lower = style.lower()
    for pattern in DANGEROUS_CSS_PATTERNS:
        if pattern in lower:
            return ""
    return style


def sanitize_dom(doc: Node, audit: AuditRecorder) -> None:
    """Port of SanitizeDOM / sanitizeNodeWithAudit (sanitize.go:94-225)."""
    if doc is None:
        return
    _sanitize_node(doc, audit)


def _sanitize_node(n: Node, audit: AuditRecorder) -> None:
    if n.type == ELEMENT:
        tag = n.data.lower()
        if tag in TAGS_TO_REMOVE:
            audit.record_blocked_tag(n.data)
            if n.parent is not None:
                n.parent.remove_child(n)
            return
        if n.attrs:
            out = []
            modified = False
            for key, val in n.attrs:
                k = key.lower()
                if len(k) >= 2 and k.startswith("on"):
                    audit.record_blocked_attr(key, val)
                    modified = True
                    continue
                if k in DANGEROUS_ATTRIBUTES:
                    audit.record_blocked_attr(key, val)
                    modified = True
                    continue
                if k == "style":
                    sanitized = _sanitize_style_value(val)
                    if sanitized == "":
                        audit.record_blocked_attr(key, val)
                        modified = True
                        continue
                    if sanitized != val:
                        val = sanitized
                        modified = True
                if k in URI_ATTRIBUTES:
                    if not _is_safe_uri(val, audit):
                        modified = True
                        continue
                out.append((key, val))
            if modified:
                n.attrs = out
    child = n.first_child
    while child is not None:
        nxt = child.next_sibling
        _sanitize_node(child, audit)
        child = nxt


_FULLWIDTH = re.compile("[！-～]")  # U+FF01-FF5E


def _normalize_fullwidth_to_ascii(s: str) -> str:
    """sanitize.go:482-504 — fullwidth U+FF01-FF5E -> ASCII. The presence
    probe is a compiled regex: the previous any(genexpr) created a frame
    per character on every URI check (measured 26.8k frames per 500
    docs)."""
    if _FULLWIDTH.search(s) is None:
        return s
    return _FULLWIDTH.sub(lambda m: chr(ord(m.group()) - 0xFEE0), s)


def _is_safe_uri(uri: str, audit: AuditRecorder) -> bool:
    """Port of isSafeURIWithAudit (sanitize.go:388-452). The fullwidth
    normalization is hoisted out of the per-scheme checks (pure perf; the
    reference recomputes it per scheme, sanitize.go:475-476)."""
    if uri == "":
        return True
    normalized = unicodedata.normalize("NFC", uri)
    trimmed = normalized.strip()
    lower_uri = trimmed.lower()
    fw = _normalize_fullwidth_to_ascii(lower_uri)

    for scheme, reason in (
        ("javascript:", "javascript scheme"),
        ("vbscript:", "vbscript scheme"),
        ("file:", "file scheme"),
    ):
        if lower_uri.startswith(scheme) or fw.startswith(scheme):
            audit.record_blocked_url(uri, reason)
            return False

    if trimmed.startswith("//"):
        rest_lower = trimmed[2:].lstrip(" \t\n\r").lower()
        rest_fw = _normalize_fullwidth_to_ascii(rest_lower)
        for scheme in ("javascript:", "vbscript:", "data:", "file:"):
            if rest_lower.startswith(scheme) or rest_fw.startswith(scheme):
                audit.record_blocked_url(uri, "dangerous protocol-relative URL")
                return False

    if lower_uri.startswith("data:"):
        if "image/svg+xml" in lower_uri:
            audit.record_blocked_url(uri, "svg data url")
            return False
        if not _is_valid_data_url(trimmed, audit):
            return False
    return True


def _is_valid_media_type(media_type: str) -> bool:
    """sanitize.go:589-609."""
    if not media_type:
        return False
    slash = media_type.find("/")
    if slash <= 0 or slash == len(media_type) - 1:
        return False
    for c in media_type:
        if not (c.isascii() and (c.isalnum() or c in "-+/._")):
            return False
    return True


def _is_base64_char(c: str) -> bool:
    return c.isascii() and (c.isalnum() or c in "+/")


def _is_valid_data_url(url: str, audit: AuditRecorder) -> bool:
    """Port of isValidDataURLWithAudit (sanitize.go:506-569)."""
    if not url.startswith("data:"):
        return False
    comma = url.find(",")
    if comma == -1 or comma == 5:
        audit.record_blocked_url(_truncate_audit_url(url), "malformed data URL")
        return False
    media_part = url[5:comma]
    data_part = url[comma + 1 :]
    # UTF-8 byte cap (Go len(), sanitize.go:522); chars <= bytes so the
    # encode only runs for non-ASCII URLs not already over in chars.
    if len(url) > MAX_DATA_URI_LENGTH or (
        not url.isascii() and len(url.encode("utf-8")) > MAX_DATA_URI_LENGTH
    ):
        audit.record_blocked_url(_truncate_audit_url(url), "data URL exceeds size limit")
        return False
    if media_part:
        if media_part.endswith(";base64"):
            media_type = media_part[: -len(";base64")]
        elif ";" in media_part:
            semi = media_part.find(";")
            media_type = media_part[:semi] if semi > 0 else ""
        else:
            media_type = media_part
        if media_type and not _is_valid_media_type(media_type):
            audit.record_blocked_url(_truncate_audit_url(url), "invalid media type in data URL")
            return False
        if media_type and media_type.lower().strip() not in SAFE_MEDIA_TYPES:
            audit.record_blocked_url(_truncate_audit_url(url), "unsafe media type in data URL: " + media_type)
            return False
    is_base64 = ";base64" in media_part
    for ch in data_part:
        b = ord(ch)
        if is_base64:
            if not _is_base64_char(ch) and ch not in "=\r\n":
                audit.record_blocked_url(_truncate_audit_url(url), "invalid base64 in data URL")
                return False
        else:
            if b < 9 or (11 <= b <= 12) or (14 <= b < 32) or b == 127:
                audit.record_blocked_url(_truncate_audit_url(url), "invalid character in data URL")
                return False
    return True
