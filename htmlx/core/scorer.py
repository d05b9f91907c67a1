"""Readability-style node scoring — port of internal/scorer.go,
internal/scoring.go and internal/constants.go.

All constants are copied verbatim (constants.go:9-39). Text lengths are
UTF-8 BYTE lengths (Go ``len(string)``) — scoring parity on CJK pages
depends on this (SURVEY.md §7.4).
"""

from __future__ import annotations

from .dom import ELEMENT, TEXT, Node, walk_nodes
from .elements import is_non_content_element
from .textnorm import BOUNDARY_STANDARD, has_word_boundary, normalize_nbsp

# constants.go:9-39
_STRONG_POS = 400
_MEDIUM_POS = 200
_STRONG_NEG = -400
_MEDIUM_NEG = -200
_WEAK_NEG = -100

MIN_PARAGRAPHS_FOR_BONUS = 3
MANY_PARAGRAPHS_MULTIPLIER = 150
FEW_PARAGRAPHS_MULTIPLIER = 80
HEADING_MULTIPLIER = 100
VERY_LONG_TEXT_THRESHOLD = 500
LONG_TEXT_THRESHOLD = 200
MEDIUM_TEXT_THRESHOLD = 100
SHORT_TEXT_THRESHOLD = 50
VERY_LONG_TEXT_BONUS_MULTIPLIER = 10
LONG_TEXT_BONUS_DIVIDER = 2
MEDIUM_TEXT_BONUS_DIVIDER = 3
SHORT_TEXT_PENALTY = -300
HIGH_LINK_DENSITY_THRESHOLD = 0.5
MEDIUM_LINK_DENSITY_THRESHOLD = 0.3
LOW_LINK_DENSITY_THRESHOLD = 0.15
HIGH_CONTENT_DENSITY_THRESHOLD = 0.7
LOW_CONTENT_DENSITY_THRESHOLD = 0.3
HIGH_DENSITY_MULTIPLIER = 1.2
LOW_DENSITY_MULTIPLIER = 0.7
HIGH_LINK_DENSITY_PENALTY = 0.2
MEDIUM_LINK_DENSITY_PENALTY = 0.5
LOW_LINK_DENSITY_PENALTY = 0.75
COMMA_BONUS_THRESHOLD = 5
COMMA_BONUS_MULTIPLIER = 10

# scorer.go:51-104 DefaultScoringConfig
POSITIVE_STRONG_PATTERNS = {
    p: _STRONG_POS for p in ("content", "article", "main", "post", "entry", "text", "body", "story")
}
POSITIVE_MEDIUM_PATTERNS = {p: _MEDIUM_POS for p in ("blog", "news", "detail", "page")}
NEGATIVE_STRONG_PATTERNS = {
    p: _STRONG_NEG
    for p in ("comment", "sidebar", "nav", "navigation", "footer", "header", "menu", "ad", "advertisement")
}
NEGATIVE_MEDIUM_PATTERNS = {
    p: _MEDIUM_NEG for p in ("widget", "related", "share", "social", "meta", "tag", "category")
}
NEGATIVE_WEAK_PATTERNS = {p: _WEAK_NEG for p in ("promo", "banner", "sponsor")}

REMOVE_PATTERNS = frozenset(
    (
        "nav navigation menu sidebar side-bar footer header comment comments "
        "ad ads advertisement social share sharing related recommend widget "
        "plugin promo promotion banner sponsor sitemap site-map site_map"
    ).split()
)
SUBSTRING_REMOVE_PATTERNS = frozenset(("sitemap",))

TAG_SCORES = {"article": 1000, "main": 900, "section": 300, "body": 100, "div": 50, "p": 0}

_ALL_SCORE_PATTERNS = {}
for _m in (
    POSITIVE_STRONG_PATTERNS,
    POSITIVE_MEDIUM_PATTERNS,
    NEGATIVE_STRONG_PATTERNS,
    NEGATIVE_MEDIUM_PATTERNS,
    NEGATIVE_WEAK_PATTERNS,
):
    _ALL_SCORE_PATTERNS.update(_m)


class ContentMetrics:
    __slots__ = (
        "paragraph_count",
        "heading_count",
        "text_length",
        "link_text_length",
        "tag_count",
        "comma_count",
    )

    def __init__(self):
        self.paragraph_count = 0
        self.heading_count = 0
        self.text_length = 0
        self.link_text_length = 0
        self.tag_count = 0
        self.comma_count = 0


_HEADINGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))


def collect_content_metrics(node: Node) -> ContentMetrics:
    """Port of collectContentMetrics (internal/scoring.go:42-96)."""
    m = ContentMetrics()

    def visit(n: Node) -> bool:
        if n.type == ELEMENT:
            m.tag_count += 1
            d = n.data
            if d == "p":
                m.paragraph_count += 1
            elif d in _HEADINGS:
                m.heading_count += 1
        elif n.type == TEXT:
            # Go strings.TrimSpace trims Unicode whitespace -> .strip()
            text = normalize_nbsp(n.data).strip()
            if text:
                blen = len(text.encode("utf-8"))
                m.text_length += blen
                m.comma_count += text.count(",") + text.count("，")
                p = n.parent
                while p is not None:
                    if p.type == ELEMENT and p.data == "a":
                        m.link_text_length += blen
                        break
                    p = p.parent
        return True

    walk_nodes(node, visit)
    return m


def _calculate_pattern_score(value: str, patterns: dict) -> int:
    """scorer.go:372-420 (the prefix index is a Go micro-opt; plain loop)."""
    if not value or not patterns:
        return 0
    score = 0
    for pattern, pscore in patterns.items():
        if has_word_boundary(value, pattern, BOUNDARY_STANDARD):
            score += pscore
    return score


# class/id attribute values repeat massively across a corpus ("nav",
# "header", "article-body", ...); the 31-pattern word-boundary scan is a
# pure function of the lowercased value, so memoize it. Bounded so an
# adversarial flood of unique class names can't grow the worker's memory.
_ATTR_SCORE_CACHE: dict = {}
_ATTR_SCORE_CACHE_MAX = 20000


def _class_id_score(lower: str) -> int:
    s = _ATTR_SCORE_CACHE.get(lower)
    if s is None:
        s = (
            _calculate_pattern_score(lower, POSITIVE_STRONG_PATTERNS)
            + _calculate_pattern_score(lower, POSITIVE_MEDIUM_PATTERNS)
            + _calculate_pattern_score(lower, NEGATIVE_STRONG_PATTERNS)
            + _calculate_pattern_score(lower, NEGATIVE_MEDIUM_PATTERNS)
            + _calculate_pattern_score(lower, NEGATIVE_WEAK_PATTERNS)
        )
        if len(_ATTR_SCORE_CACHE) >= _ATTR_SCORE_CACHE_MAX:
            _ATTR_SCORE_CACHE.clear()
        _ATTR_SCORE_CACHE[lower] = s
    return s


class DefaultScorer:
    """Port of DefaultScorer (scorer.go:107-436). Stateless and reusable."""

    def score_attributes(self, node: Node) -> int:
        """scorer.go:340-366."""
        if node is None:
            return 0
        score = 0
        for key, val in node.attrs:
            if key == "class" or key == "id":
                score += _class_id_score(val.lower())
            elif key == "role":
                lower = val.lower()
                if lower in ("main", "article"):
                    score += 500
                elif lower in ("navigation", "complementary"):
                    score -= 400
        return score

    def score(self, node: Node) -> int:
        """scorer.go:184-243: this node's subtree metrics through the one
        scoring formula (_score_from_counts)."""
        if node is None or node.type != ELEMENT or is_non_content_element(node.data) or node.data == "p":
            return 0
        m = collect_content_metrics(node)
        return _score_from_counts(
            self, node, m.tag_count, m.paragraph_count, m.heading_count,
            m.text_length, m.link_text_length, m.comma_count,
        )

    def should_remove(self, node: Node) -> bool:
        """scorer.go:246-298."""
        if node is None or node.type != ELEMENT:
            return False
        if is_non_content_element(node.data):
            return True
        primary = is_primary_content_container(node)
        for key, val in node.attrs:
            if key in ("class", "id"):
                if primary:
                    continue
                lower = val.lower()
                for pattern in REMOVE_PATTERNS:
                    if has_word_boundary(lower, pattern, BOUNDARY_STANDARD):
                        return True
                for pattern in SUBSTRING_REMOVE_PATTERNS:
                    if pattern in lower:
                        return True
            elif key == "style":
                lower_style = val.lower()
                if (
                    "display:none" in lower_style
                    or "display: none" in lower_style
                    or "visibility:hidden" in lower_style
                    or "visibility: hidden" in lower_style
                ):
                    return True
            elif key == "hidden":
                return True
        return False


def is_primary_content_container(node: Node) -> bool:
    """scorer.go:306-320."""
    if node.data in ("article", "main"):
        return True
    for key, val in node.attrs:
        if key == "role" and val.lower() in ("main", "article"):
            return True
    return False


def score_all_nodes(root: Node, scorer: "DefaultScorer | None" = None) -> dict:
    """Score every element under ``root`` in O(n) with ONE bottom-up pass.

    Semantically identical to calling ``scorer.score(node)`` per element
    (which re-walks each subtree, O(n·depth) — the reference's shape,
    extract.go:842-861): metrics compose additively over the tree, so a
    post-order accumulation yields the same per-node ContentMetrics. The
    link-text determination follows the reference exactly: a text node
    counts as link text if ANY ancestor (up to the document root, not just
    the subtree root) is an <a> (scoring.go:83-89).

    Returns {node: score} for scores > 0, insertion-ordered by document
    position (deterministic tie-break in select_best_candidate)."""
    scorer = scorer or _DEFAULT_SCORER
    if root is None:
        return {}

    # pre-order collection with an explicit (node, in_link, parent_index)
    # stack: the parent's preorder index is known at push time, so the
    # post-order accumulation below indexes flat lists instead of paying
    # two dict-by-id lookups per node
    preorder: list[tuple[Node, bool, int]] = []
    visited = 0
    work = [(root, _has_a_ancestor(root) or (root.type == ELEMENT and root.data == "a"), -1)]
    pop = work.pop
    push = work.append
    while work:
        node, in_link, pidx = pop()
        visited += 1
        if visited > 50000:  # MAX_WALK_NODES cap (helpers.go:386)
            break
        idx = len(preorder)
        preorder.append((node, in_link, pidx))
        c = node.last_child
        while c is not None:
            push((c, in_link or (c.type == ELEMENT and c.data == "a"), idx))
            c = c.prev_sibling

    # post-order accumulation (reverse pre-order works for these sums);
    # flat accumulator, 6 ints per node at base 6*i:
    # [tag_count, para, heading, text_len, link_text, commas] — one flat
    # list beats 27-odd small-list allocations per document measurably
    N = len(preorder)
    acc = [0] * (6 * N)
    for i in range(N - 1, -1, -1):
        node, in_link, pidx = preorder[i]
        b = 6 * i
        t = node.type
        if t == ELEMENT:
            acc[b] += 1
            d = node.data
            if d == "p":
                acc[b + 1] += 1
            elif d in _HEADINGS:
                acc[b + 2] += 1
        elif t == TEXT:
            text = normalize_nbsp(node.data).strip()
            if text:
                # caps are UTF-8 BYTE lengths (Go len()); for pure-ASCII
                # text (the dominant case) byte length == char length and
                # the full-width comma cannot occur — skip the encode
                # allocation and the second count
                if text.isascii():
                    blen = len(text)
                    acc[b + 5] += text.count(",")
                else:
                    blen = len(text.encode("utf-8"))
                    acc[b + 5] += text.count(",") + text.count("，")
                acc[b + 3] += blen
                if in_link:
                    acc[b + 4] += blen
        if pidx >= 0:
            pb = 6 * pidx
            acc[pb] += acc[b]
            acc[pb + 1] += acc[b + 1]
            acc[pb + 2] += acc[b + 2]
            acc[pb + 3] += acc[b + 3]
            acc[pb + 4] += acc[b + 4]
            acc[pb + 5] += acc[b + 5]

    candidates: dict = {}
    for i in range(N):
        node = preorder[i][0]
        if node.type != ELEMENT or is_non_content_element(node.data) or node.data == "p":
            continue
        b = 6 * i
        score = _score_from_counts(
            scorer, node, acc[b], acc[b + 1], acc[b + 2], acc[b + 3],
            acc[b + 4], acc[b + 5],
        )
        if score > 0:
            candidates[node] = score
    return candidates


def _has_a_ancestor(node: Node) -> bool:
    p = node.parent
    while p is not None:
        if p.type == ELEMENT and p.data == "a":
            return True
        p = p.parent
    return False


def _score_from_counts(
    scorer: "DefaultScorer", node: Node, tag_count: int, paragraph_count: int,
    heading_count: int, text_length: int, link_text_length: int,
    comma_count: int,
) -> int:
    """The scoring formula (scorer.go:189-242 verbatim; density formulas
    inlined from scoring.go:99-119) over a node's subtree metrics as plain
    ints — no ContentMetrics allocation on score_all_nodes' per-candidate
    hot path. The reference's total text length is text_length: both
    count the same subtree's text."""
    score = TAG_SCORES.get(node.data, 0) + scorer.score_attributes(node)
    if paragraph_count >= MIN_PARAGRAPHS_FOR_BONUS:
        score += paragraph_count * MANY_PARAGRAPHS_MULTIPLIER
    elif paragraph_count > 0:
        score += paragraph_count * FEW_PARAGRAPHS_MULTIPLIER
    if heading_count > 0:
        score += heading_count * HEADING_MULTIPLIER
    tl = text_length
    if tl > VERY_LONG_TEXT_THRESHOLD:
        score += VERY_LONG_TEXT_THRESHOLD + (tl - VERY_LONG_TEXT_THRESHOLD) // VERY_LONG_TEXT_BONUS_MULTIPLIER
    elif tl > LONG_TEXT_THRESHOLD:
        score += tl // LONG_TEXT_BONUS_DIVIDER
    elif tl > MEDIUM_TEXT_THRESHOLD:
        score += tl // MEDIUM_TEXT_BONUS_DIVIDER
    elif tl < SHORT_TEXT_THRESHOLD:
        score += SHORT_TEXT_PENALTY
    if tl == 0:
        density = 0.0
    elif tag_count == 0:
        density = 1.0
    else:
        density = tl / (tag_count * 10)
        if density > 1.0:
            density = 1.0
    if density > HIGH_CONTENT_DENSITY_THRESHOLD:
        score = int(score * HIGH_DENSITY_MULTIPLIER)
    elif density < LOW_CONTENT_DENSITY_THRESHOLD:
        score = int(score * LOW_DENSITY_MULTIPLIER)
    link_density = link_text_length / tl if tl else 0.0
    if link_density > HIGH_LINK_DENSITY_THRESHOLD:
        score = int(score * HIGH_LINK_DENSITY_PENALTY)
    elif link_density > MEDIUM_LINK_DENSITY_THRESHOLD:
        score = int(score * MEDIUM_LINK_DENSITY_PENALTY)
    elif link_density > LOW_LINK_DENSITY_THRESHOLD:
        score = int(score * LOW_LINK_DENSITY_PENALTY)
    if comma_count > COMMA_BONUS_THRESHOLD:
        score += comma_count * COMMA_BONUS_MULTIPLIER
    return score


_DEFAULT_SCORER = DefaultScorer()


def get_default_scorer() -> DefaultScorer:
    return _DEFAULT_SCORER


def should_remove_element(node: Node) -> bool:
    return _DEFAULT_SCORER.should_remove(node)


def select_best_candidate(candidates: dict) -> Node | None:
    """Port of SelectBestCandidate (helpers.go:1077-1088) with a DELIBERATE
    determinism fix: the reference iterates a Go map (nondeterministic tie
    break); we iterate in insertion order = document order, so ties break by
    first-in-document-order (SURVEY.md §7.4)."""
    best_node = None
    best_score = -1
    for node, score in candidates.items():
        if score > best_score:
            best_score = score
            best_node = node
    return best_node
