"""Video/audio extraction — ports of media.go and internal/media.go.

Three merged video sources with first-seen dedup by URL: (a) raw-HTML
attribute scan of iframe/embed/object (runs before sanitization), (b) DOM
walk, (c) regex over raw HTML capped at 1000 matches. All raw scans are
gated by HasMediaReference and the 1 MB raw-scan limit — both caps are
output-affecting and must match the reference exactly (config.go:50-54).
"""

from __future__ import annotations

import re
import string
from itertools import islice

from .dom import ELEMENT, Node, walk_nodes
from .urlutil import is_valid_url

# internal/media.go:30-44
VIDEO_EXTENSIONS = {
    ".mp4": "video/mp4",
    ".m4v": "video/mp4",
    ".webm": "video/webm",
    ".ogg": "video/ogg",
    ".mov": "video/quicktime",
    ".avi": "video/x-msvideo",
    ".wmv": "video/x-ms-wmv",
    ".flv": "video/x-flv",
    ".mkv": "video/x-matroska",
    ".3gp": "video/3gpp",
}
AUDIO_EXTENSIONS = {
    ".mp3": "audio/mpeg",
    ".wav": "audio/wav",
    ".ogg": "audio/ogg",
    ".oga": "audio/ogg",
    ".m4a": "audio/mp4",
    ".aac": "audio/aac",
    ".flac": "audio/flac",
    ".wma": "audio/x-ms-wma",
    ".opus": "audio/opus",
}

# internal/media.go:46-54
EMBED_PATTERNS = (
    "youtube.com/embed/",
    "youtube-nocookie.com/embed/",
    "player.vimeo.com/video/",
    "dailymotion.com/embed/",
    "player.youku.com/",
    "v.qq.com/",
    "bilibili.com/",
)

# config.go:77-78 — identical patterns, precompiled at import
VIDEO_REGEX = re.compile(
    r"(?i)https?://[^\s<>\"',;)}\]]{1,500}\.(?:mp4|webm|ogg|mov|avi|wmv|flv|mkv|m4v|3gp)"
)
AUDIO_REGEX = re.compile(
    r"(?i)https?://[^\s<>\"',;)}\]]{1,500}\.(?:mp3|wav|ogg|m4a|aac|flac|wma|opus|oga)"
)

# The same patterns without (?i), for the page's lower() copy (_regex_urls)
_VIDEO_REGEX_LOWERED = re.compile(VIDEO_REGEX.pattern.removeprefix("(?i)"))
_AUDIO_REGEX_LOWERED = re.compile(AUDIO_REGEX.pattern.removeprefix("(?i)"))

MAX_REGEX_MATCHES = 1000  # config.go:54 (output-affecting)

_ASCII_LOWER = str.maketrans(string.ascii_uppercase, string.ascii_lowercase)

_ALL_MEDIA_SIGNATURES = tuple(
    dict.fromkeys(tuple(VIDEO_EXTENSIONS) + tuple(AUDIO_EXTENSIONS) + EMBED_PATTERNS)
)


def has_media_reference(lowered: str) -> bool:
    """Port of HasMediaReference (internal/media.go:176-194): necessary
    condition for any media regex/raw scan to produce output.

    ``lowered`` is the page's ``lower()`` copy, which the raw scans share;
    C-level substring membership per signature is ~6x faster than a
    case-insensitive alternation regex, with the same ASCII-case-insensitive
    semantics as the reference's per-byte prefix dispatch."""
    for sig in _ALL_MEDIA_SIGNATURES:
        if sig in lowered:
            return True
    return False


def _strip_query_fragment(url: str) -> str:
    idx = url.find("?")
    if idx >= 0:
        url = url[:idx]
    idx = url.find("#")
    if idx >= 0:
        url = url[:idx]
    return url


def _detect_video_ext(lower_url: str) -> str:
    u = _strip_query_fragment(lower_url)
    for ext, mime in VIDEO_EXTENSIONS.items():
        if u.endswith(ext):
            return mime
    return ""


def _detect_audio_ext(lower_url: str) -> str:
    u = _strip_query_fragment(lower_url)
    for ext, mime in AUDIO_EXTENSIONS.items():
        if u.endswith(ext):
            return mime
    return ""


def _has_embed_pattern(lower_url: str) -> bool:
    return any(p in lower_url for p in EMBED_PATTERNS)


def is_video_url(url: str) -> bool:
    """internal/media.go:87-90."""
    lower = url.lower()
    return _detect_video_ext(lower) != "" or _has_embed_pattern(lower)


def detect_video_type(url: str) -> str:
    """internal/media.go:93-102."""
    lower = url.lower()
    mime = _detect_video_ext(lower)
    if mime:
        return mime
    if _has_embed_pattern(lower):
        return "embed"
    return ""


def detect_audio_type(url: str) -> str:
    """internal/media.go:105-108."""
    return _detect_audio_ext(url.lower())


# ---------------------------------------------------------------------------
# Raw-HTML tag attribute scan (media.go:246-411)
# ---------------------------------------------------------------------------

def _aligned_lower(content: str, lowered: str) -> str:
    """A lowercase copy of ``content`` that keeps every character at its own
    index: ``lowered`` (``content.lower()``) when lowering kept the length,
    so each character mapped to one, else an ASCII-only lowering. The
    reference indexes the page at offsets found in its lowered copy;
    'İ'.lower() is two characters, so a full copy would shift them."""
    return lowered if len(lowered) == len(content) else content.translate(_ASCII_LOWER)


def extract_tag_attributes(html_content: str, lowered: str, tag_name: str, *attr_names: str) -> list[str]:
    """Port of extractTagAttributes (media.go:246-292): case-insensitive scan
    of raw HTML for ``<tag ... attr=value>`` (quoted or unquoted).
    ``lowered`` is ``_aligned_lower``'s copy of ``html_content``."""
    results: list[str] = []
    lower_tag = "<" + tag_name.lower()
    n = len(html_content)
    pos = 0
    tag_len = len(lower_tag)
    while pos < n:
        tag_start = lowered.find(lower_tag, pos)
        if tag_start == -1:
            break
        if tag_start + tag_len < n:
            nxt = lowered[tag_start + tag_len]
            if nxt not in " \t\n\r>/":
                pos = tag_start + tag_len
                continue
        tag_end = html_content.find(">", tag_start)
        if tag_end == -1:
            break
        tag_end += 1
        tag_content = html_content[tag_start:tag_end]
        lower_tag_content = lowered[tag_start:tag_end]
        for attr_name in attr_names:
            value = extract_attribute_value(tag_content, lower_tag_content, attr_name)
            if value:
                results.append(value)
        pos = tag_end
    return results


def extract_attribute_value(tag_content: str, lower_tag: str, attr_name: str) -> str:
    """Port of extractAttributeValue (media.go:335-411); ``lower_tag`` is a
    lowercase copy of ``tag_content`` with every character at its own
    index."""
    search = attr_name.lower() + "="
    search_len = len(search)
    tag_len = len(tag_content)
    pos = 0
    while pos <= tag_len - search_len:
        found = lower_tag.find(search, pos)
        if found == -1:
            return ""
        pos = found
        if pos > 0 and tag_content[pos - 1] not in " \t\n\r":
            pos += 1
            continue
        value_start = pos + search_len
        while value_start < tag_len and tag_content[value_start] in " \t":
            value_start += 1
        if value_start >= tag_len:
            return ""
        q = tag_content[value_start]
        if q in "\"'":
            value_start += 1
            value_end = tag_content.find(q, value_start)
            if value_end == -1:
                return tag_content[value_start:].strip()
            return tag_content[value_start:value_end].strip()
        value_end = value_start
        while value_end < tag_len and tag_content[value_end] not in " \t\n\r>":
            value_end += 1
        return tag_content[value_start:value_end].strip()
    return ""


# ---------------------------------------------------------------------------
# Video/audio extraction (media.go:26-241)
# ---------------------------------------------------------------------------

def _video_info(url="", type_=""):
    return {"url": url, "type": type_, "poster": "", "width": "", "height": "", "duration": ""}


def _audio_info(url="", type_=""):
    return {"url": url, "type": type_, "duration": ""}


def _regex_urls(html_content: str, lowered: str, regex: re.Pattern, lowered_regex: re.Pattern) -> list[str]:
    """The first MAX_REGEX_MATCHES matches of the (?i) ``regex`` over the
    page, as URLs sliced from it. ``lowered_regex``, the same pattern
    without (?i), matches the ``lower()`` copy at the same spans when
    lowering mapped each character to one and the copy holds no 'ı' or
    'ſ': (?i) matches those to 'i' and 's', and 'İ' to 'i', while lower()
    leaves the first two and turns 'İ' into two characters. No other code
    point differs (tests/test_media.py checks them all); 'K' (Kelvin)
    lowers to 'k' and (?i) matches it to 'k' too."""
    if len(lowered) == len(html_content) and "ı" not in lowered and "ſ" not in lowered:
        matches = lowered_regex.finditer(lowered)
    else:
        matches = regex.finditer(html_content)
    return [html_content[m.start():m.end()] for m in islice(matches, MAX_REGEX_MATCHES)]


def _find_source_url(n: Node) -> tuple[str, str]:
    """media.go:223-241 — <source> child fallback."""
    c = n.first_child
    while c is not None:
        if c.type == ELEMENT and c.data == "source":
            src_url = ""
            src_type = ""
            for key, val in c.attrs:
                if key == "src":
                    src_url = val
                elif key == "type":
                    src_type = val
            if src_url:
                return src_url, src_type
        c = c.next_sibling
    return "", ""


def _parse_video_node(n: Node) -> dict:
    """media.go:95-124."""
    video = _video_info()
    for key, val in n.attrs:
        if key == "src":
            if not is_valid_url(val):
                return _video_info()
            video["url"] = val
        elif key == "poster":
            video["poster"] = val
        elif key == "width":
            video["width"] = val
        elif key == "height":
            video["height"] = val
        elif key == "duration":
            video["duration"] = val
    if not video["url"]:
        video["url"], video["type"] = _find_source_url(n)
    if not is_valid_url(video["url"]):
        return _video_info()
    return video


def _parse_iframe_node(n: Node) -> dict:
    """media.go:126-142."""
    for key, val in n.attrs:
        if key == "src" and is_valid_url(val) and is_video_url(val):
            video = _video_info(url=val, type_="embed")
            for k2, v2 in n.attrs:
                if k2 == "width":
                    video["width"] = v2
                elif k2 == "height":
                    video["height"] = v2
            return video
    return _video_info()


def _parse_embed_node(n: Node) -> dict:
    """media.go:144-162."""
    for key, val in n.attrs:
        if key in ("src", "data") and is_valid_url(val) and is_video_url(val):
            video = _video_info(url=val)
            for k2, v2 in n.attrs:
                if k2 == "type":
                    video["type"] = v2
                elif k2 == "width":
                    video["width"] = v2
                elif k2 == "height":
                    video["height"] = v2
            return video
    return _video_info()


def _parse_audio_node(n: Node) -> dict:
    """media.go:198-221."""
    audio = _audio_info()
    for key, val in n.attrs:
        if key == "src":
            if not is_valid_url(val):
                return _audio_info()
            audio["url"] = val
        elif key == "duration":
            audio["duration"] = val
    if not audio["url"]:
        audio["url"], audio["type"] = _find_source_url(n)
    if not is_valid_url(audio["url"]):
        return _audio_info()
    return audio


def extract_videos(node: Node, html_content: str, lowered: str | None) -> list[dict]:
    """Port of extractVideos (media.go:26-93). ``lowered`` is the page's
    ``lower()`` copy when the raw scans run, None when they are gated off."""
    videos: list[dict] = []
    seen: set[str] = set()

    def add_unique_urls(urls):
        for url in urls:
            if is_valid_url(url) and is_video_url(url) and url not in seen:
                seen.add(url)
                videos.append(_video_info(url=url, type_=detect_video_type(url)))

    if lowered is not None:
        aligned = _aligned_lower(html_content, lowered)
        add_unique_urls(extract_tag_attributes(html_content, aligned, "iframe", "src"))
        add_unique_urls(extract_tag_attributes(html_content, aligned, "embed", "src", "data"))
        add_unique_urls(extract_tag_attributes(html_content, aligned, "object", "data"))

    def visit(n: Node) -> bool:
        if n.type != ELEMENT:
            return True
        if n.data == "video":
            v = _parse_video_node(n)
            if v["url"] and v["url"] not in seen:
                seen.add(v["url"])
                videos.append(v)
        elif n.data == "iframe":
            v = _parse_iframe_node(n)
            if v["url"] and v["url"] not in seen:
                seen.add(v["url"])
                videos.append(v)
        elif n.data in ("embed", "object"):
            v = _parse_embed_node(n)
            if v["url"] and v["url"] not in seen:
                seen.add(v["url"])
                videos.append(v)
        return True

    walk_nodes(node, visit)

    if lowered is not None:
        for url in _regex_urls(html_content, lowered, VIDEO_REGEX, _VIDEO_REGEX_LOWERED):
            if is_valid_url(url) and url not in seen:
                seen.add(url)
                videos.append(_video_info(url=url, type_=detect_video_type(url)))
    return videos


def extract_videos_and_audios(
    node: Node, html_content: str, lowered: str | None
) -> tuple[list[dict], list[dict]]:
    """Fused single-walk variant of extract_videos + extract_audios for the
    both-enabled config (the default): one full-document traversal instead
    of two. Identical results — same traversal order, same 50k-node cap
    over the same node sequence, separate dedup sets, and the raw-scan /
    regex passes unchanged."""
    videos: list[dict] = []
    audios: list[dict] = []
    vseen: set[str] = set()
    aseen: set[str] = set()

    def add_unique_urls(urls):
        for url in urls:
            if is_valid_url(url) and is_video_url(url) and url not in vseen:
                vseen.add(url)
                videos.append(_video_info(url=url, type_=detect_video_type(url)))

    if lowered is not None:
        aligned = _aligned_lower(html_content, lowered)
        add_unique_urls(extract_tag_attributes(html_content, aligned, "iframe", "src"))
        add_unique_urls(extract_tag_attributes(html_content, aligned, "embed", "src", "data"))
        add_unique_urls(extract_tag_attributes(html_content, aligned, "object", "data"))

    def visit(n: Node) -> bool:
        if n.type != ELEMENT:
            return True
        d = n.data
        if d == "video":
            v = _parse_video_node(n)
            if v["url"] and v["url"] not in vseen:
                vseen.add(v["url"])
                videos.append(v)
        elif d == "iframe":
            v = _parse_iframe_node(n)
            if v["url"] and v["url"] not in vseen:
                vseen.add(v["url"])
                videos.append(v)
        elif d in ("embed", "object"):
            v = _parse_embed_node(n)
            if v["url"] and v["url"] not in vseen:
                vseen.add(v["url"])
                videos.append(v)
        elif d == "audio":
            a = _parse_audio_node(n)
            if a["url"] and a["url"] not in aseen:
                aseen.add(a["url"])
                audios.append(a)
        return True

    walk_nodes(node, visit)

    if lowered is not None:
        for url in _regex_urls(html_content, lowered, VIDEO_REGEX, _VIDEO_REGEX_LOWERED):
            if is_valid_url(url) and url not in vseen:
                vseen.add(url)
                videos.append(_video_info(url=url, type_=detect_video_type(url)))
        for url in _regex_urls(html_content, lowered, AUDIO_REGEX, _AUDIO_REGEX_LOWERED):
            if is_valid_url(url) and url not in aseen:
                aseen.add(url)
                audios.append(_audio_info(url=url, type_=detect_audio_type(url)))
    return videos, audios


def extract_audios(node: Node, html_content: str, lowered: str | None) -> list[dict]:
    """Port of extractAudios (media.go:164-196); ``lowered`` as in
    ``extract_videos``."""
    audios: list[dict] = []
    seen: set[str] = set()

    def visit(n: Node) -> bool:
        if n.type == ELEMENT and n.data == "audio":
            a = _parse_audio_node(n)
            if a["url"] and a["url"] not in seen:
                seen.add(a["url"])
                audios.append(a)
        return True

    walk_nodes(node, visit)

    if lowered is not None:
        for url in _regex_urls(html_content, lowered, AUDIO_REGEX, _AUDIO_REGEX_LOWERED):
            if is_valid_url(url) and url not in seen:
                seen.add(url)
                audios.append(_audio_info(url=url, type_=detect_audio_type(url)))
    return audios
