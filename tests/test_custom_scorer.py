"""Custom Scorer extension point — engine analogue of the reference's
Scorer interface (processor.go:38-44, types.go:21-46): a duck-typed object
with score(node) / should_remove(node) passed via Config."""

from htmlx.core.dom import ELEMENT
from htmlx.core.extract import Config, Extractor
from htmlx.core.scorer import DefaultScorer


class PreferSecondDiv:
    """Scores only divs with class='pick'; removes class='drop' nodes."""

    def score(self, node):
        if node.type == ELEMENT and node.attr("class") == "pick":
            return 10_000
        return 0

    def should_remove(self, node):
        return node.type == ELEMENT and node.attr("class") == "drop"


def test_custom_scorer_drives_selection():
    html = (
        b'<div class="other"><p>Not chosen content here at all.</p></div>'
        b'<div class="pick"><p>Chosen content.</p><span class="drop">noise</span></div>'
    )
    cfg = Config(scorer=PreferSecondDiv())
    r = Extractor(cfg).extract(html)
    assert "Chosen content." in r.text
    assert "Not chosen" not in r.text


def test_custom_scorer_should_remove_via_clean():
    # should_remove drives CleanContentNode only through the default scorer
    # singleton today (scoring.go:18-20 delegates to the default); the custom
    # scorer governs candidate selection. Verify the default path intact.
    html = b'<article><p>Real body text for this page.</p><div class="sidebar">junk</div></article>'
    r = Extractor().extract(html)
    assert "junk" not in r.text


class _SidebarScorer:
    """Scores only the sidebar div."""

    def score(self, node):
        return 1000 if node.type == ELEMENT and node.attr("class") == "sidebar" else 0


class _SidebarDefaultScorer(DefaultScorer):
    score = _SidebarScorer.score


def test_default_scorer_subclass_score_override_drives_selection():
    """A DefaultScorer subclass that overrides score() selects what its
    score() says, as the same scorer written as a plain class does; only a
    subclass that keeps DefaultScorer.score takes the bottom-up pass."""
    html = (
        b"<article><p>The real article body, long enough to win on its own "
        b"merits.</p></article><div class=\"sidebar\">junk sidebar words</div>"
    )
    plain = Extractor(Config(scorer=_SidebarScorer())).extract(html).text
    sub = Extractor(Config(scorer=_SidebarDefaultScorer())).extract(html).text
    assert plain == sub == "junk sidebar words"
