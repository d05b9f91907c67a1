"""Static lint: every top-level def and class in htmlx/ is referenced.

A name counts as referenced when any .py file in the repo (tests included)
uses it as code, anywhere in an f-string, or as a string literal that is
exactly the name (getattr and registry keys). Comments, docstrings and its
own definition do not count. The scan is a small string/comment-aware
tokenizer: `ast.parse` of the whole repo alone takes about a second, and
this test needs no Spark and must stay well under that.
"""

import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

_TOKEN = re.compile(
    r"(?P<prefix>[rRbBuUfF]{0,2})(?P<quote>'''|\"\"\"|'|\")"
    r"|#[^\n]*"
    r"|(?P<name>[A-Za-z_]\w*)"
)
_STRING_END = {
    q: re.compile(
        (r"(?s)(?:\\.|(?!%s)[^\\])*%s" if len(q) == 3 else r"(?:\\.|[^\\\n%s])*%s")
        % (q, q)
    )
    for q in ("'''", '"""', "'", '"')
}
_WORD = re.compile(r"[A-Za-z_]\w*")
_DEF_LINE = ("def ", "class ", "async def ")


def _scan(src: str, refs: Counter, top_level: list) -> None:
    """Count the code references in src; append its top-level def names."""
    pos, prev = 0, ""
    while (m := _TOKEN.search(src, pos)) is not None:
        pos = m.end()
        if m["quote"]:
            end = _STRING_END[m["quote"]].match(src, pos)
            if end is None:
                continue
            body = src[pos:end.end() - len(m["quote"])]
            pos = end.end()
            if "f" in m["prefix"].lower():
                refs.update(_WORD.findall(body))
            elif body.isidentifier():
                refs[body] += 1
        elif m["name"]:
            if prev in ("def", "class"):
                line = src.rfind("\n", 0, m.start()) + 1
                if src.startswith(_DEF_LINE, line):
                    top_level.append(m["name"])
            else:
                refs[m["name"]] += 1
            prev = m["name"]


def test_no_unreferenced_top_level_defs():
    refs, defs = Counter(), []
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if any(part.startswith(".") for part in rel.parts):
            continue
        top_level = []
        _scan(path.read_text(encoding="utf-8"), refs, top_level)
        if rel.parts[0] == "htmlx":
            defs += [(rel, name) for name in top_level]
    dead = [f"{rel} {name}" for rel, name in defs if refs[name] == 0]
    assert dead == [], "unreferenced top-level defs:\n" + "\n".join(dead)


def test_scan_ignores_comments_docstrings_and_definitions():
    refs, top_level = Counter(), []
    _scan(
        'def used():\n    """unused_a is named here"""\n    # unused_b\n'
        '    return helper(f"{inner}") + getattr(m, "by_key")\n'
        "class Kls:\n    def method(self): pass\n",
        refs,
        top_level,
    )
    assert top_level == ["used", "Kls"]
    assert {"helper", "inner", "by_key", "getattr"} <= set(refs)
    assert not {"used", "Kls", "method", "unused_a", "unused_b"} & set(refs)
