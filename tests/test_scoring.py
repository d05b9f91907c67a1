"""Scoring + removal heuristics — ported from internal/scoring_test.go."""

import pytest

from htmlx.core.dom import ELEMENT, parse, walk_nodes
from htmlx.core.encoding import detect_and_convert_to_utf8
from htmlx.core.scorer import (
    DefaultScorer,
    get_default_scorer,
    score_all_nodes,
    should_remove_element,
)
from htmlx.fixtures import corpus


def find_target(html: str, tags=("article", "main", "div")):
    doc = parse(html)
    found = []

    def visit(n):
        if n.type == ELEMENT and n.data in tags:
            found.append(n)
            return False
        return True

    walk_nodes(doc, visit)
    return found[0] if found else None


# scoring_test.go:13-86
SCORE_CASES = [
    ("article tag high score", "<article><p>Content</p></article>", lambda s: s > 500),
    ("main tag high score", "<main><p>Content</p></main>", lambda s: s > 500),
    ("div with paragraphs", "<div><p>P1</p><p>P2</p><p>P3</p></div>", lambda s: s > 0),
    ("long text content", "<div>" + "word " * 100 + "</div>", lambda s: s > 300),
    ("short text penalty", "<div>Short</div>", lambda s: s < 0),
    (
        "high link density penalty",
        '<div><a href="#">Link1</a><a href="#">Link2</a>Text</div>',
        lambda s: s < 100,
    ),
    ("positive class names", '<div class="article-content"><p>Content</p></div>', lambda s: s > 200),
    ("negative class names", '<div class="sidebar"><p>Content</p></div>', lambda s: s < 0),
]


@pytest.mark.parametrize("name,html,check", SCORE_CASES, ids=[c[0] for c in SCORE_CASES])
def test_score_content_node(name, html, check):
    node = find_target(html)
    assert node is not None
    assert check(get_default_scorer().score(node))


# scoring_test.go:137-199
ATTR_CASES = [
    ("positive class", '<div class="article-content"></div>', lambda s: s > 0),
    ("negative class", '<div class="sidebar"></div>', lambda s: s < 0),
    ("positive id", '<div id="main-content"></div>', lambda s: s > 0),
    ("negative id", '<div id="navigation"></div>', lambda s: s < 0),
    ("role main", '<div role="main"></div>', lambda s: s > 0),
    ("role navigation", '<div role="navigation"></div>', lambda s: s < 0),
    ("no attributes", "<div></div>", lambda s: s == 0),
]


@pytest.mark.parametrize("name,html,check", ATTR_CASES, ids=[c[0] for c in ATTR_CASES])
def test_score_attributes(name, html, check):
    node = find_target(html, tags=("div",))
    assert node is not None
    assert check(DefaultScorer().score_attributes(node))


# scoring_test.go:421-537
REMOVE_CASES = [
    ("script tag", "<script>code</script>", True),
    ("nav tag", "<nav>menu</nav>", True),
    ("sidebar class", '<div class="sidebar">content</div>', True),
    ("navigation id", '<div id="navigation">menu</div>', True),
    ("hidden attribute", "<div hidden>content</div>", True),
    ("display none", '<div style="display:none">content</div>', True),
    ("display none with space", '<div style="display: none">content</div>', True),
    ("normal div", "<div>content</div>", False),
    ("article", "<article>content</article>", False),
    (
        "article with sidebar-layout class",
        '<article class="post-with-sidebar post-92883 category-news">content</article>',
        False,
    ),
    ("main with nav-ish class", '<main class="nav-primary">content</main>', False),
    ("div with role main and sidebar class", '<div role="main" class="sidebar-layout">content</div>', False),
    ("div with sidebar class still removed", '<div class="post-with-sidebar">content</div>', True),
    ("sitemap class", '<div class="sitemap">links</div>', True),
    ("divSiteMap id (prefixed token)", '<div id="divSiteMap">links</div>', True),
    ("sitemap2 id (digit suffix)", '<div id="sitemap2">links</div>', True),
]


@pytest.mark.parametrize("name,html,want", REMOVE_CASES, ids=[c[0] for c in REMOVE_CASES])
def test_should_remove_element(name, html, want):
    doc = parse(html)
    found = []

    def visit(n):
        if n.type == ELEMENT and n.data not in ("html", "head", "body"):
            found.append(n)
            return False
        return True

    walk_nodes(doc, visit)
    assert found, "no target node"
    assert should_remove_element(found[0]) is want


def test_score_exact_values():
    """Exact-value checks pinning the ported constants (constants.go:9-39).

    div + 3 paragraphs of tiny text: tag 50 + 3*150 paragraphs + short-text
    penalty -300, density multipliers as computed by the formula.
    """
    # <div>Short</div>: tag 50, text 5 bytes (<50 -> -300), density 5/(1*10)=0.5
    node = find_target("<div>Short</div>")
    assert get_default_scorer().score(node) == 50 - 300  # density 0.5: no multiplier

    # empty div: tag 50, textLength 0 -> density 0 -> low-density x0.7
    node = find_target("<div></div>")
    assert get_default_scorer().score(node) == int((50 - 300) * 0.7)


def test_bottom_up_pass_equals_per_node_score():
    """score_all_nodes (one O(n) pass) returns exactly the positive
    per-node DefaultScorer.score values, on every fixture corpus page."""
    scorer = get_default_scorer()
    for name, html in corpus():
        doc = parse(detect_and_convert_to_utf8(html, "")[0])
        want = {}

        def visit(n):
            s = scorer.score(n)
            if s > 0:
                want[n] = s
            return True

        walk_nodes(doc, visit)
        assert score_all_nodes(doc) == want, name
