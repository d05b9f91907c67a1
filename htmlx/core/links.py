"""ExtractAllLinks mode — port of links.go.

Separate resource-enumeration mode: NO sanitization (links.go:20-23), base-URL
detection (<base href> -> og:url/canonical meta -> canonical link -> first
absolute URL), optional relative-URL resolution, per-tag type dispatch, dedup
by resolved URL with last-writer-wins, then sort by URL ascending for
determinism (links.go:309-325).
"""

from __future__ import annotations

from .dom import ELEMENT, Node, find_element_by_tag, parse, tree_depth_exceeds, walk_nodes
from .encoding import detect_and_convert_to_utf8
from .media import detect_audio_type, detect_video_type, is_video_url
from .textnorm import get_text_content
from .urlutil import (
    extract_base_from_url,
    is_different_domain,
    is_external_url,
    is_valid_url,
    normalize_base_url,
    resolve_url,
)


def _last_path_segment(url: str) -> str:
    """links.go:807-811."""
    i = url.rfind("/")
    return url[i + 1 :] if i >= 0 else ""


def detect_base_url(doc: Node) -> str:
    """Port of detectBaseURL (links.go:329-397)."""
    base_node = find_element_by_tag(doc, "base")
    if base_node is not None:
        href = base_node.attr("href")
        if href:
            return normalize_base_url(href)

    state = {"canonical_url": "", "canonical_link": "", "first_absolute": ""}

    def visit(n: Node) -> bool:
        if n.type != ELEMENT:
            return True
        if n.data == "meta":
            if not state["canonical_url"]:
                prop = n.attr("property") or ""
                content = n.attr("content") or ""
                if prop in ("og:url", "canonical") and content:
                    state["canonical_url"] = content
        elif n.data == "link":
            if not state["canonical_link"]:
                rel = n.attr("rel") or ""
                href = n.attr("href") or ""
                if rel == "canonical" and href:
                    state["canonical_link"] = href
        else:
            if not state["first_absolute"]:
                for key, val in n.attrs:
                    if key in ("href", "src") and is_external_url(val):
                        base = extract_base_from_url(val)
                        if base:
                            state["first_absolute"] = base
                            break
        return not (state["canonical_url"] and state["canonical_link"] and state["first_absolute"])

    walk_nodes(doc, visit)
    if state["canonical_url"]:
        return normalize_base_url(state["canonical_url"])
    if state["canonical_link"]:
        return normalize_base_url(state["canonical_link"])
    return state["first_absolute"]


def extract_all_links_from_doc(doc: Node, config) -> list[dict]:
    """Port of extractAllLinksFromContent core (links.go:273-326)."""
    base_url = getattr(config, "base_url", "") or ""
    resolve_enabled = getattr(config, "resolve_relative_urls", True)
    if resolve_enabled and not base_url:
        base_url = detect_base_url(doc)

    inc_images = getattr(config, "include_images", True)
    inc_videos = getattr(config, "include_videos", True)
    inc_audios = getattr(config, "include_audios", True)
    inc_css = getattr(config, "include_css", True)
    inc_js = getattr(config, "include_js", True)
    inc_content = getattr(config, "include_content_links", True)
    inc_external = getattr(config, "include_external_links", True)
    inc_icons = getattr(config, "include_icons", True)

    link_map: dict[str, dict] = {}

    def resolve(raw: str) -> str:
        if resolve_enabled and base_url:
            return resolve_url(base_url, raw)
        return raw

    def put(url: str, title: str, type_: str) -> None:
        link_map[url] = {"url": url, "title": title, "type": type_}

    def handle_a(n: Node) -> None:
        """links.go:453-496."""
        href = n.attr("href") or ""
        title = n.attr("title") or ""
        if not href or not is_valid_url(href):
            return
        is_external_original = is_external_url(href)
        resolved = resolve(href)
        is_external = is_external_original
        if not is_external_original and base_url:
            is_external = is_different_domain(base_url, resolved)
        if is_external and not inc_external:
            return
        if not is_external and not inc_content:
            return
        if not title:
            title = get_text_content(n).strip() or "Link"
        put(resolved, title, "link")

    def handle_img(n: Node) -> None:
        """links.go:498-534."""
        src = n.attr("src") or ""
        if not src or not is_valid_url(src):
            return
        resolved = resolve(src)
        display = n.attr("title") or n.attr("alt") or ""
        if not display:
            display = _last_path_segment(resolved) if "/" in resolved else "Image"
        put(resolved, display, "image")

    def handle_media(n: Node, media_type: str) -> None:
        """links.go:536-572."""
        src = n.attr("src") or ""
        if not src or not is_valid_url(src):
            return
        resolved = resolve(src)
        display = n.attr("title") or ""
        if not display:
            if "/" in resolved:
                display = _last_path_segment(resolved)
            if not display:
                display = media_type.capitalize() if media_type else "Media"
        put(resolved, display, media_type)

    def handle_source(n: Node) -> None:
        """links.go:574-614."""
        src = n.attr("src") or ""
        media_type = n.attr("type") or ""
        if not src or not is_valid_url(src):
            return
        resolved = resolve(src)
        rtype = "media"
        if media_type.startswith("video/"):
            rtype = "video"
        elif media_type.startswith("audio/"):
            rtype = "audio"
        elif detect_video_type(resolved):
            rtype = "video"
        elif detect_audio_type(resolved):
            rtype = "audio"
        title = _last_path_segment(resolved) if "/" in resolved else "Media"
        put(resolved, title or "Media", rtype)

    def handle_link_tag(n: Node) -> None:
        """links.go:616-712."""
        href = n.attr("href") or ""
        rel = n.attr("rel") or ""
        link_type = n.attr("type") or ""
        title = n.attr("title") or ""
        if not href or not is_valid_url(href):
            return
        rtype = "link"
        include = False
        if rel == "stylesheet":
            if inc_css:
                rtype, include = "css", True
        elif rel in ("icon", "shortcut icon", "apple-touch-icon", "apple-touch-icon-precomposed"):
            if inc_icons:
                rtype, include = "icon", True
        elif rel in ("preload", "prefetch", "dns-prefetch", "preconnect"):
            as_val = n.attr("as") or ""
            if as_val == "style" and inc_css:
                rtype, include = "css", True
            elif as_val == "script" and inc_js:
                rtype, include = "js", True
            elif as_val == "image" and inc_images:
                rtype, include = "image", True
            elif as_val == "video" and inc_videos:
                rtype, include = "video", True
            elif as_val == "audio" and inc_audios:
                rtype, include = "audio", True
        else:
            if "css" in link_type and inc_css:
                rtype, include = "css", True
            elif "javascript" in link_type and inc_js:
                rtype, include = "js", True
        if not include:
            return
        resolved = resolve(href)
        if not title and "/" in resolved:
            title = _last_path_segment(resolved)
        if not title:
            title = rtype
        put(resolved, title, rtype)

    def handle_script(n: Node) -> None:
        """links.go:714-742."""
        src = n.attr("src") or ""
        if not src or not is_valid_url(src):
            return
        resolved = resolve(src)
        title = _last_path_segment(resolved) if "/" in resolved else ""
        put(resolved, title or "Script", "js")

    def handle_embed(n: Node) -> None:
        """links.go:744-784."""
        src = ""
        title = n.attr("title") or ""
        for key, val in n.attrs:
            if key in ("src", "data"):
                src = val
        if not src or not is_valid_url(src):
            return
        if not is_video_url(src):
            return
        resolved = resolve(src)
        if not title:
            if "youtube" in resolved:
                title = "YouTube Video"
            elif "vimeo" in resolved:
                title = "Vimeo Video"
            elif "dailymotion" in resolved:
                title = "Dailymotion Video"
            else:
                title = "Embedded Video"
        put(resolved, title, "video")

    def visit(n: Node) -> bool:
        if n.type != ELEMENT:
            return True
        d = n.data
        if d == "a":
            if inc_content or inc_external:
                handle_a(n)
        elif d == "img":
            if inc_images:
                handle_img(n)
        elif d == "video":
            if inc_videos:
                handle_media(n, "video")
        elif d == "audio":
            if inc_audios:
                handle_media(n, "audio")
        elif d == "source":
            if inc_videos or inc_audios:
                handle_source(n)
        elif d == "link":
            handle_link_tag(n)
        elif d == "script":
            if inc_js:
                handle_script(n)
        elif d in ("iframe", "embed", "object"):
            if inc_videos:
                handle_embed(n)
        return True

    walk_nodes(doc, visit)
    return sorted(link_map.values(), key=lambda r: r["url"])


def extract_all_links(html_bytes: bytes, config=None) -> list[dict]:
    """Port of Processor.ExtractAllLinks (links.go:24-61). NO sanitization."""
    from .extract import Config

    config = config or Config()
    if not html_bytes:
        return []
    if len(html_bytes) > getattr(config, "max_input_size", 50 * 1024 * 1024):
        raise ValueError("input_too_large")
    text, _charset = detect_and_convert_to_utf8(html_bytes, getattr(config, "encoding", ""))
    if text.strip(" \t\n\r") == "":
        return []
    doc = parse(text)
    if tree_depth_exceeds(doc, getattr(config, "max_depth", 500)):
        raise ValueError("max_depth_exceeded")
    return extract_all_links_from_doc(doc, config)
