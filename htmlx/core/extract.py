"""Main extraction pipeline — port of extract.go + processor.go.

One call = one HTML document in (raw bytes, any encoding), one structured
result out (SURVEY.md §3.1):

bytes -> UTF-8/NFC -> HTML5 tree -> depth check -> sanitize -> title ->
article-node scoring -> boilerplate clean -> structured text (+ tables,
lists, placeholders) -> CleanText -> media/links -> word count.
"""

from __future__ import annotations

import html as _stdhtml
import re
import sys
import time
from dataclasses import dataclass, field

from . import dom
from .dom import ELEMENT, Node, find_element_by_tag, parse, tree_depth_exceeds, walk_nodes
from .encoding import detect_and_convert_to_utf8
from .extraction import (
    clean_content_node,
    extract_text_with_structure_and_images,
)
from .sanitize import NOOP_AUDIT, AuditRecorder, sanitize_dom
from .scorer import DefaultScorer, get_default_scorer, score_all_nodes, select_best_candidate
from .tables import TrackedBuilder
from .textnorm import clean_text, get_text_content
from .urlutil import is_external_url, is_valid_url
from .media import (
    extract_audios,
    extract_videos,
    extract_videos_and_audios,
    has_media_reference,
)

# config.go:11-26, 50-54, 72
DEFAULT_MAX_INPUT_SIZE = 50 * 1024 * 1024
DEFAULT_MAX_DEPTH = 500
MAX_HTML_FOR_REGEX = 1000000
WORDS_PER_MINUTE = 200

# error category slugs (SURVEY.md Appendix B)
ERR_INPUT_TOO_LARGE = "input_too_large"
ERR_MAX_DEPTH_EXCEEDED = "max_depth_exceeded"
ERR_TIMEOUT = "timeout"
ERR_INTERNAL_PANIC = "internal_panic"

# The deepest legal document (MaxDepth=500) recurses ~500 frames in the
# renderer; default CPython limit (1000) is too tight with interpreter frames.
if sys.getrecursionlimit() < 10000:
    sys.setrecursionlimit(10000)


@dataclass
class Config:
    """Port of Config (config.go:96-179) — extraction-relevant fields only.

    Cache/worker-pool/file-IO fields are Spark-native concerns in this
    engine (SURVEY.md §2.2) and intentionally absent."""

    max_input_size: int = DEFAULT_MAX_INPUT_SIZE
    max_depth: int = DEFAULT_MAX_DEPTH
    enable_sanitization: bool = True
    # AuditConfig (audit.go:119-139): defaults mirror DefaultAuditConfig
    audit_include_raw_values: bool = False
    audit_max_raw_value_length: int = 200
    extract_article: bool = True
    preserve_images: bool = True
    preserve_links: bool = True
    preserve_videos: bool = True
    preserve_audios: bool = True
    inline_image_format: str = "none"  # none|markdown|html|placeholder
    inline_link_format: str = "none"  # none|markdown|html
    table_format: str = "markdown"  # markdown|html
    encoding: str = ""  # forced encoding; "" = auto-detect
    processing_timeout_s: float = 30.0  # per-document wall-clock guard
    audit_enabled: bool = False
    scorer: DefaultScorer | None = None
    # link-extraction mode (config.go:125-134)
    resolve_relative_urls: bool = True
    base_url: str = ""
    include_images: bool = True
    include_videos: bool = True
    include_audios: bool = True
    include_css: bool = True
    include_js: bool = True
    include_content_links: bool = True
    include_external_links: bool = True
    include_icons: bool = True

    def normalized(self) -> "Config":
        """normalizeInlineFormat (processor.go:245-251) + validation."""
        self.inline_image_format = (self.inline_image_format or "none").strip().lower() or "none"
        self.inline_link_format = (self.inline_link_format or "none").strip().lower() or "none"
        self.table_format = (self.table_format or "markdown").strip().lower() or "markdown"
        if self.inline_image_format not in ("none", "markdown", "html", "placeholder"):
            raise ValueError(f"invalid InlineImageFormat: {self.inline_image_format}")
        if self.inline_link_format not in ("none", "markdown", "html"):
            raise ValueError(f"invalid InlineLinkFormat: {self.inline_link_format}")
        if self.table_format not in ("markdown", "html"):
            raise ValueError(f"invalid TableFormat: {self.table_format}")
        return self


def text_only_config() -> Config:
    """TextOnlyConfig (config.go:257-269)."""
    return Config(
        preserve_images=False, preserve_links=False, preserve_videos=False, preserve_audios=False
    )


def markdown_config() -> Config:
    """MarkdownConfig (config.go:271-281)."""
    return Config(inline_image_format="markdown", inline_link_format="markdown")


@dataclass
class Result:
    """Port of Result (config.go:288-309) + engine 'error' column."""

    text: str = ""
    title: str = ""
    images: list = field(default_factory=list)
    links: list = field(default_factory=list)
    videos: list = field(default_factory=list)
    audios: list = field(default_factory=list)
    word_count: int = 0
    reading_time_ms: int = 0
    processing_time_ms: int = 0
    # microsecond-precision twin of processing_time_ms: the per-doc ms
    # field keeps Go's truncated-int parity, but metrics rollups sum THIS
    # (at ~0.3 ms/doc, summing truncated ms under-reports partition wall
    # time up to ~3x)
    processing_time_us: int = 0
    error: str = ""
    audit: list = field(default_factory=list)


# markdownEscapeReplacer (extract.go:18-23)
def escape_markdown_text(s: str) -> str:
    if "\\" in s or "[" in s or "]" in s:
        return s.replace("\\", "\\\\").replace("[", "\\[").replace("]", "\\]")
    return s


_WORD_RUNS = re.compile(r"[^ \t\n\r]+")


def count_words(text: str) -> int:
    """Port of countWords (extract.go:1139-1157): runs of non-{space,tab,
    NL,CR}. NOTE: the whitespace set is exactly these four bytes — which
    is why this is a dedicated regex and not str.split (whose whitespace
    set also includes \\x0b/\\x0c/unicode spaces)."""
    if not text:
        return 0
    return len(_WORD_RUNS.findall(text))


def _is_blank_content(content: str) -> bool:
    """extract.go:667-680."""
    return content.strip(" \t\n\r") == ""


class Extractor:
    """Port of Processor for the per-document pipeline (no cache/pool —
    Spark-native replacements per SURVEY.md §2.2)."""

    def __init__(self, config: Config | None = None):
        self.config = (config or Config()).normalized()
        self.scorer = self.config.scorer or get_default_scorer()

    # -- public API --------------------------------------------------------
    def extract(self, html_bytes: bytes) -> Result:
        start = time.monotonic()
        cfg = self.config
        audit = (
            AuditRecorder(cfg.audit_include_raw_values, cfg.audit_max_raw_value_length)
            if cfg.audit_enabled
            else NOOP_AUDIT
        )
        try:
            result = self._extract_core(html_bytes, start, audit)
        except RecursionError:
            # unbounded-recursion guard maps to the depth contract
            audit.record_depth_violation(cfg.max_depth + 1, cfg.max_depth)
            result = Result(error=ERR_MAX_DEPTH_EXCEEDED)
        except Exception as exc:  # panic recovery (extract.go:81-96)
            result = Result(error=f"{ERR_INTERNAL_PANIC}: {type(exc).__name__}")
        if cfg.audit_enabled:
            result.audit = audit.events
        result.processing_time_us = int((time.monotonic() - start) * 1_000_000)
        result.processing_time_ms = result.processing_time_us // 1000
        return result

    def extract_text(self, html_bytes: bytes) -> str:
        return self.extract(html_bytes).text

    # -- pipeline ----------------------------------------------------------
    def _extract_core(self, html_bytes: bytes, start: float, audit) -> Result:
        """Stage sequence with cooperative deadline checks between stages,
        mirroring processContentWithContext (extract.go:417-477): at start,
        before parse, before depth validation, and before document
        extraction — a pathological document can no longer blow past the
        budget inside a single unchecked stage."""
        cfg = self.config
        if len(html_bytes) > cfg.max_input_size:
            # processor.go:333-345: oversize input emits a critical event
            audit.record_input_violation(len(html_bytes), cfg.max_input_size, "input_too_large")
            return Result(error=ERR_INPUT_TOO_LARGE)

        utf8_text, _charset = detect_and_convert_to_utf8(html_bytes, cfg.encoding)

        if self._deadline_exceeded(start):
            return self._timeout_result(audit)

        if _is_blank_content(utf8_text):
            return Result()

        if self._deadline_exceeded(start):  # before parse (extract.go:434)
            return self._timeout_result(audit)

        doc = parse(utf8_text)

        if self._deadline_exceeded(start):  # before depth check (extract.go:445)
            return self._timeout_result(audit)

        if tree_depth_exceeds(doc, cfg.max_depth):
            # extract.go:389-391: depth violation emits an audit event
            audit.record_depth_violation(cfg.max_depth + 1, cfg.max_depth)
            return Result(error=ERR_MAX_DEPTH_EXCEEDED)

        if cfg.enable_sanitization:
            sanitize_dom(doc, audit)

        if self._deadline_exceeded(start):  # before extraction (extract.go:470)
            return self._timeout_result(audit)

        return self._extract_from_document(doc, utf8_text)

    def _deadline_exceeded(self, start: float) -> bool:
        t = self.config.processing_timeout_s
        return t > 0 and (time.monotonic() - start) > t

    def _timeout_result(self, audit) -> Result:
        audit.record_timeout(self.config.processing_timeout_s)
        return Result(error=ERR_TIMEOUT)

    def _extract_from_document(self, doc: Node, html_content: str) -> Result:
        """Port of extractFromDocument (extract.go:732-800)."""
        result = Result()
        result.title = self._extract_title(doc)

        content_node = doc
        if self.config.extract_article:
            article = self._extract_article_node(doc)
            if article is not None:
                content_node = article
        content_node = clean_content_node(content_node)

        image_format = self.config.inline_image_format
        link_format = self.config.inline_link_format

        if image_format != "none" or link_format != "none":
            images, links = self._extract_images_and_links(content_node)
            if self.config.preserve_images:
                result.images = images
            if self.config.preserve_links:
                result.links = links
            counters = [0, 0]
            raw = extract_text_with_structure_and_images(content_node, counters, self.config.table_format)
            text = clean_text(raw)
            text = self._format_inline_images(text, images, image_format)
            result.text = self._format_inline_links(text, links, link_format)
        else:
            raw = extract_text_with_structure_and_images(content_node, None, self.config.table_format)
            result.text = clean_text(raw)
            if self.config.preserve_images or self.config.preserve_links:
                images, links = self._extract_images_and_links(content_node)
                if self.config.preserve_images:
                    result.images = images
                if self.config.preserve_links:
                    result.links = links

        result.word_count = count_words(result.text)
        result.reading_time_ms = self._reading_time_ms(result.word_count)

        if self.config.preserve_videos or self.config.preserve_audios:
            # The 1 MB raw-scan gate is a UTF-8 BYTE cap (Go len(),
            # extract.go:789-791). chars <= bytes always, so a doc over the
            # cap in characters is over it in bytes too; only docs that pass
            # the char check AND are non-ASCII need the (<=1 MB) encode.
            n_chars = len(html_content)
            can_contain_media = (
                0 < n_chars <= MAX_HTML_FOR_REGEX
                and (
                    html_content.isascii()
                    or len(html_content.encode("utf-8")) <= MAX_HTML_FOR_REGEX
                )
                and has_media_reference(html_content)
            )
            if self.config.preserve_videos and self.config.preserve_audios:
                result.videos, result.audios = extract_videos_and_audios(
                    doc, html_content, can_contain_media
                )
            elif self.config.preserve_videos:
                result.videos = extract_videos(doc, html_content, can_contain_media)
            else:
                result.audios = extract_audios(doc, html_content, can_contain_media)
        return result

    def _extract_title(self, doc: Node) -> str:
        """Port of extractTitle (extract.go:802-840): single walk collecting
        first <title>/<h1>/<h2>; priority title -> h1 -> h2. Inline stack
        walk with early break once all three are pinned — the firsts are
        fixed at that point, so the break is output-identical to the
        callback walk it replaced (which only pruned subtrees), and the
        MAX_WALK_NODES cap binds at the same pre-order position."""
        title = h1 = h2 = None
        stack = [doc]
        pop = stack.pop
        push = stack.append
        visited = 0
        while stack:
            visited += 1
            if visited > dom.MAX_WALK_NODES:
                break
            n = pop()
            if n.type == ELEMENT:
                d = n.data
                if d == "title":
                    if title is None:
                        title = n
                    if h1 is not None and h2 is not None:
                        break
                elif d == "h1":
                    if h1 is None:
                        h1 = n
                    if title is not None and h2 is not None:
                        break
                elif d == "h2":
                    if h2 is None:
                        h2 = n
                    if title is not None and h1 is not None:
                        break
            c = n.last_child
            while c is not None:
                push(c)
                c = c.prev_sibling
        if title is not None:
            t = get_text_content(title)
            if t:
                return t
        if h1 is not None:
            t = get_text_content(h1)
            if t:
                return t
        if h2 is not None:
            return get_text_content(h2)
        return ""

    def _extract_article_node(self, doc: Node) -> Node | None:
        """Port of extractArticleNode (extract.go:842-861). Candidates are
        collected in document order, so tie-break is deterministic
        (first-in-document-order; see SURVEY.md §7.4). The default scorer
        uses the O(n) bottom-up pass (score_all_nodes) — semantically
        identical to the reference's per-node subtree walks but linear, not
        O(n·depth). A custom scorer (opaque score()) takes the generic
        per-node walk, mirroring extract.go:849-856."""
        if isinstance(self.scorer, DefaultScorer):
            candidates = score_all_nodes(doc, self.scorer)
        else:
            candidates = {}

            def visit(n: Node) -> bool:
                if n.type == ELEMENT:
                    s = self.scorer.score(n)
                    if s > 0:
                        candidates[n] = s
                return True

            walk_nodes(doc, visit)
        best = select_best_candidate(candidates)
        if best is not None:
            return best
        return find_element_by_tag(doc, "body")

    # -- images / links ----------------------------------------------------
    def _extract_images_and_links(self, node: Node) -> tuple[list[dict], list[dict]]:
        """Fused single walk for image + link extraction (same traversal,
        same position semantics as the separate walks — pure perf fusion,
        SURVEY.md §4.1 'single-traversal fusion')."""
        images: list[dict] = []
        links: list[dict] = []
        img_pos = 0
        link_pos = 0

        def visit(n: Node) -> bool:
            nonlocal img_pos, link_pos
            if n.type == ELEMENT:
                d = n.data
                if d == "img":
                    img_pos += 1
                    img = self._parse_image_node(n, img_pos)
                    if img is not None:
                        images.append(img)
                elif d == "a":
                    link_pos += 1
                    link = self._parse_link_node(n, link_pos)
                    if link is not None:
                        links.append(link)
            return True

        walk_nodes(node, visit)
        return images, links

    def _extract_images_with_position(self, node: Node) -> list[dict]:
        """extract.go:1044-1089. Position is the 1-based ordinal of ALL <img>
        encountered — invalid images consume a position but are dropped."""
        images = []
        position = 0

        def visit(n: Node) -> bool:
            nonlocal position
            if n.type == ELEMENT and n.data == "img":
                position += 1
                img = self._parse_image_node(n, position)
                if img is not None:
                    images.append(img)
            return True

        walk_nodes(node, visit)
        return images

    @staticmethod
    def _parse_image_node(n: Node, position: int) -> dict | None:
        img = {
            "url": "",
            "alt": "",
            "title": "",
            "width": "",
            "height": "",
            "is_decorative": False,
            "position": position,
        }
        for key, val in n.attrs:
            if key == "src":
                if not is_valid_url(val):
                    return None
                img["url"] = val
            elif key == "alt":
                img["alt"] = val
            elif key == "title":
                img["title"] = val
            elif key == "width":
                img["width"] = val
            elif key == "height":
                img["height"] = val
        if not img["url"]:
            return None
        img["is_decorative"] = img["alt"] == ""
        return img

    def _extract_links_with_position(self, node: Node) -> list[dict]:
        """extract.go:1091-1137."""
        links = []
        position = 0

        def visit(n: Node) -> bool:
            nonlocal position
            if n.type == ELEMENT and n.data == "a":
                position += 1
                link = self._parse_link_node(n, position)
                if link is not None:
                    links.append(link)
            return True

        walk_nodes(node, visit)
        return links

    @staticmethod
    def _parse_link_node(n: Node, position: int) -> dict | None:
        link = {
            "url": "",
            "text": "",
            "title": "",
            "is_external": False,
            "is_nofollow": False,
            "position": position,
        }
        for key, val in n.attrs:
            if key == "href":
                if not is_valid_url(val):
                    return None
                link["url"] = val
            elif key == "title":
                link["title"] = val
            elif key == "rel":
                if "nofollow" in val.lower():
                    link["is_nofollow"] = True
        if not link["url"]:
            return None
        link["text"] = get_text_content(n)
        link["is_external"] = is_external_url(link["url"])
        return link

    # -- inline formats ----------------------------------------------------
    @staticmethod
    def _format_inline_images(text: str, images: list[dict], fmt: str) -> str:
        """Port of formatInlineImages (extract.go:872-935)."""
        if not images or fmt in ("placeholder", "none"):
            return text
        if fmt == "markdown":
            for img in images:
                if img["position"] == 0:
                    continue
                placeholder = f"[IMAGE:{img['position']}]"
                alt = img["alt"] or f"Image {img['position']}"
                text = text.replace(placeholder, f"![{escape_markdown_text(alt)}]({img['url']})")
        elif fmt == "html":
            for img in images:
                if img["position"] == 0:
                    continue
                placeholder = f"[IMAGE:{img['position']}]"
                tag = f'<img src="{_stdhtml.escape(img["url"])}" alt="{_stdhtml.escape(img["alt"])}"'
                if img["width"]:
                    tag += f' width="{_stdhtml.escape(img["width"])}"'
                if img["height"]:
                    tag += f' height="{_stdhtml.escape(img["height"])}"'
                tag += ">"
                text = text.replace(placeholder, tag)
        return text

    @staticmethod
    def _format_inline_links(text: str, links: list[dict], fmt: str) -> str:
        """Port of formatInlineLinks (extract.go:937-1042)."""
        if not links or fmt == "none":
            return text
        if "[LINK:" not in text:
            return text
        link_map = {l["position"]: l for l in links if l["position"] > 0}
        out = []
        i = 0
        n = len(text)
        while i < n:
            if text[i] == "[" and text.startswith("[LINK:", i):
                j = i + 6
                num_start = j
                while j < n and text[j].isdigit() and text[j].isascii():
                    j += 1
                if j > num_start and j < n and text[j] == "]":
                    position = int(text[num_start:j])
                    j += 1
                    text_start = j
                    end_idx = text.find("[/LINK]", j)
                    if end_idx != -1:
                        link_text = text[text_start:end_idx]
                        link = link_map.get(position)
                        if link is None:
                            out.append(link_text)
                        else:
                            if link_text == "":
                                link_text = f"Link {position}"
                            if fmt == "markdown":
                                out.append(f"[{escape_markdown_text(link_text)}]({link['url']})")
                            elif fmt == "html":
                                tag = f'<a href="{_stdhtml.escape(link["url"])}"'
                                if link["title"]:
                                    tag += f' title="{_stdhtml.escape(link["title"])}"'
                                tag += f">{_stdhtml.escape(link_text)}</a>"
                                out.append(tag)
                            else:
                                out.append(link_text)
                        i = end_idx + 7
                        continue
                    else:
                        # unmatched opener: preserve it literally, resume after
                        out.append(text[i:text_start])
                        i = text_start
                        continue
                out.append(text[i])
                i += 1
            else:
                nxt = text.find("[", i + 1)
                if nxt == -1:
                    out.append(text[i:])
                    break
                out.append(text[i:nxt])
                i = nxt
        return "".join(out)

    @staticmethod
    def _reading_time_ms(word_count: int) -> int:
        """extract.go:1159-1165 — minutes = words/200, as milliseconds."""
        if word_count == 0:
            return 0
        return int(word_count / WORDS_PER_MINUTE * 60_000)


def extract(html_bytes: bytes, config: Config | None = None) -> Result:
    """Package-level convenience (extract.go:128-136)."""
    return Extractor(config).extract(html_bytes)


def extract_text(html_bytes: bytes, config: Config | None = None) -> str:
    return Extractor(config).extract_text(html_bytes)
