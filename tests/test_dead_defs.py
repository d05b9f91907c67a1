"""Static lints: a shipped entry point reaches every top-level def in htmlx/,
some call sets every defaulted parameter of one, and code outside tests/
names every method of a top-level htmlx/ class.

A top-level def here is a def, a class, or a column-0 `NAME = ...` /
`NAME: T = ...` assignment, whose body is its right-hand side. Dunder
names (`__all__`, ...) are not defs: their assignments stay module-level
statements.

Roots are all code in jobs/, perfbench/, tools/, bench.py and
__spark_entry__.py, plus the other module-level statements of htmlx/
(decorators included: they run at import). The QUERIES rows become roots
because __spark_entry__.py names the QUERIES table. From there the lint
takes a fixpoint: a reached def reaches what the names used in its body
resolve to. Any top-level htmlx/ def left unreached fails. tests/ is never
a root.

A name counts as used when it appears as code, anywhere in an f-string, or
as a string literal that is exactly the name (getattr, registry keys and the
name lists in perfbench.spans). Comments, docstrings and a def's own name do
not count. Names resolve within their file, through its imports:
- a name used as code means the file's own top-level def of that name, or
  what the file's `from` import of that name binds (followed on through
  re-exports);
- `module.name`, where `module` is a module the file imports, means that
  module's def; `expr.name` on anything else means nothing, so a method
  never keeps a function of the same name alive;
- any name, a string included, also means that name in each module the
  file imports whole (`getattr(module, "name")`).
The scan is a small string/comment-aware tokenizer: `ast.parse` of the
whole repo alone takes about a second, and this test needs no Spark and
must stay well under that.

The method rule covers each non-dunder method of a top-level htmlx/ class:
code in htmlx/ or a root must use its name after a dot or as a string, or
the method must override an attribute of a base class that the file imports
from outside the repository (or a builtin), whose own code calls it
(`HTMLParser.handle_decl`). It uses the same scan as the reachability rule.

The parameter rule covers every defaulted parameter (positional or
keyword-only) of a top-level htmlx/ def. It passes when some call in htmlx/,
jobs/, perfbench/, tools/, tests/, bench.py or __spark_entry__.py binds it,
by position or by keyword; a call counts when its callee's Name or Attribute
name equals the def's name, so a recursive call counts and two defs of one
name share their call sites. A def passes as a whole when code outside tests/
calls it with `*args`/`**kwargs` or uses its name as a value (a callback, a
registry entry, a `partial`): the lint cannot see what those bind. A test that
hands a def to a harness names no parameter, so it keeps none alive; a test
seam is a parameter a test passes by name. The rule reads calls with `ast`,
but parsing the whole repo takes about a second, so it parses only the
top-level statements whose text names a def with a default.
"""

import ast
import builtins
import importlib
import re
from collections import Counter, defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ROOT_DIRS = ("jobs", "perfbench", "tools")
ROOT_FILES = ("bench.py", "__spark_entry__.py")
CALLER_DIRS = ("htmlx", *ROOT_DIRS, "tests")

_TOKEN = re.compile(
    r"(?P<prefix>[rRbBuUfF]{0,2})(?P<quote>'''|\"\"\"|'|\")"
    r"|#[^\n]*"
    r"|(?P<name>[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*)"
)
_STRING_END = {
    q: re.compile(
        (r"(?s)(?:\\.|(?!%s)[^\\])*%s" if len(q) == 3 else r"(?:\\.|[^\\\n%s])*%s")
        % (q, q)
    )
    for q in ("'''", '"""', "'", '"')
}
_WORD = re.compile(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*")
# `NAME = ...` or `NAME: T = ...` (not `==`), matched right after the name
_ASSIGN = re.compile(r"[ \t]*(?::[^=\n]*)?=(?!=)")


def _scan(src: str) -> tuple[Counter, list, list, set]:
    """Split src's references by owner.

    Returns the references made by module-level statements, a list of
    (name, references) for each top-level def, class or assignment, the
    (class, name) of each method of a top-level class, and every name src
    uses as an attribute (after a dot) or as a string. A top-level def runs
    from its `def`/`class` line (or, for an assignment, from just after its
    name) to the next token that starts a line at column 0. A method is a
    def at the indentation of the class's first def.
    """
    module, defs, methods, attrs = Counter(), [], [], set()
    refs, pos, prev = module, 0, ""
    cls = method_indent = None  # the enclosing top-level class, if any
    method = False  # the next `def` name is a method's
    while (m := _TOKEN.search(src, pos)) is not None:
        pos = m.end()
        if m.group(0)[0] == "#":
            continue
        line_start = src.rfind("\n", 0, m.start()) + 1
        if m.start() == line_start:
            refs, cls, method_indent = module, None, None
            if m["name"] == "class":
                cls = ""
            if m["name"] in ("def", "class", "async"):
                defs.append(("", Counter()))
            elif (
                m["name"]
                and "." not in m["name"]
                and not (m["name"].startswith("__") and m["name"].endswith("__"))
                and _ASSIGN.match(src, pos)
            ):
                defs.append((m["name"], Counter()))
                refs, prev = defs[-1][1], m["name"]
                continue
        elif (
            m["name"] in ("def", "async")
            and cls
            and not src[line_start:m.start()].strip()
            and method_indent in (None, m.start() - line_start)
        ):
            method_indent = m.start() - line_start
            method = True
        if m["quote"]:
            end = _STRING_END[m["quote"]].match(src, pos)
            if end is None:
                continue
            body = src[pos:end.end() - len(m["quote"])]
            pos = end.end()
            if "f" in m["prefix"].lower():
                refs.update(_WORD.findall(body))
                attrs.update(w for word in _WORD.findall(body) for w in word.split(".")[1:])
            elif body.isidentifier():
                refs[body] += 0  # count 0: named by a string, not as code
                attrs.add(body)
        elif m["name"]:
            if prev in ("def", "class"):
                if refs is module and defs and not defs[-1][0]:
                    defs[-1] = (m["name"], defs[-1][1])
                    refs = defs[-1][1]
                    if cls == "":
                        cls = m["name"]
                elif method and prev == "def":
                    methods.append((cls, m["name"]))
                    method = False
            elif src[m.start() - 1:m.start()] != ".":  # not `expr().name`
                refs[m["name"]] += 1
                attrs.update(m["name"].split(".")[1:])
            else:
                attrs.update(m["name"].split("."))
            prev = m["name"]
    return module, defs, methods, attrs


# An import statement; `names` is what follows `import`, up to the end of the
# statement (a parenthesized list may span lines).
_IMPORT = re.compile(
    r"^[ \t]*(?:from[ \t]+(?P<source>\.*[\w.]*)[ \t]+)?import[ \t]+"
    r"(?P<names>\([^)]*\)|(?:[^\n\\;#]|\\\n)*)",
    re.M,
)


def _module_name(rel: Path) -> str:
    parts = rel.with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(src: str, mod: str, is_package: bool, modules: set) -> tuple:
    """What src's import statements bind: {name: (module, attribute)} for
    each `from` import, {name: module} for each name bound to a module, and
    the set of modules src imports whole."""
    froms, aliases, whole = {}, {}, set()
    package = mod if is_package else mod.rpartition(".")[0]
    for m in _IMPORT.finditer(src):
        names = re.sub(r"#[^\n]*|[()\\]", " ", m["names"])
        for item in filter(None, (n.strip() for n in names.split(","))):
            target, alias = (re.split(r"\s+as\s+", item) + [""])[:2]
            if m["source"] is None:
                whole.add(target)
                if alias:
                    aliases[alias] = target
                else:
                    head = target.split(".")[0]
                    aliases[head] = head
                continue
            source = m["source"].lstrip(".")
            if level := len(m["source"]) - len(source):
                base = package.rsplit(".", level - 1)[0]
                source = f"{base}.{source}" if source else base
            froms[alias or target] = (source, target)
            if f"{source}.{target}" in modules:
                aliases[alias or target] = f"{source}.{target}"
                whole.add(f"{source}.{target}")
    return froms, aliases, whole


def _unreached(root: Path) -> list:
    """Top-level htmlx/ defs no root reaches; a def or `from` import is keyed
    by (module, name), and names resolve as the module docstring says."""
    files = {}
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        if rel.parts[0] == "htmlx" or rel.parts[0] in ROOT_DIRS or str(rel) in ROOT_FILES:
            files[rel] = path.read_text(encoding="utf-8")
    modules = set()  # every module and package, dotted
    for rel in files:
        parts = _module_name(rel).split(".")
        modules.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    scanned, bodies, names = {}, defaultdict(list), defaultdict(set)
    for rel, src in files.items():
        mod = _module_name(rel)
        froms, aliases, whole = _imports(src, mod, rel.stem == "__init__", modules)
        for name, key in froms.items():
            bodies[(mod, name)].append({key})
        scanned[rel] = (mod, aliases, whole, *_scan(src)[:2])
        names[mod] |= set(froms) | {name for name, _ in scanned[rel][-1]}
    reached, checked = set(), []
    for rel, (mod, aliases, whole, module, defs) in scanned.items():

        def resolve(refs):
            heads = {ref.split(".")[0] for ref in refs}
            keys = {(w, h) for w in whole for h in heads & names[w]}  # getattr(module, "name")
            for ref, count in refs.items():
                if not count:  # named only by strings
                    continue
                head, *attrs = ref.split(".")
                keys.add((mod, head))
                target = aliases.get(head)
                for attr in attrs if target else ():
                    if f"{target}.{attr}" not in modules:
                        keys.add((target, attr))
                        break
                    target = f"{target}.{attr}"
            return keys

        reached |= resolve(module)
        for name, refs in defs:
            if rel.parts[0] == "htmlx":
                bodies[(mod, name)].append(resolve(refs))
                checked.append((rel, (mod, name)))
            else:
                reached |= resolve(refs)
    frontier = list(reached)
    while frontier:
        for keys in bodies.pop(frontier.pop(), ()):
            new = keys - reached
            reached |= new
            frontier += new
    return [f"{rel} {key[1]}" for rel, key in checked if key not in reached]


# A top-level class line and its bases, which may span lines.
_CLASS = re.compile(r"^class (\w+)\(([^)]*)\)", re.M)


def _unused_methods(root: Path) -> list:
    """Methods of top-level htmlx/ classes whose name no code outside tests/
    uses as an attribute or a string, and that override nothing in a base
    class from outside the repository (whose own code calls them)."""
    used, methods = set(), []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        if rel.parts[0] == "htmlx" or rel.parts[0] in ROOT_DIRS or str(rel) in ROOT_FILES:
            src = path.read_text(encoding="utf-8")
            _, _, found, attrs = _scan(src)
            used |= attrs
            if rel.parts[0] == "htmlx" and found:
                bases = _external_bases(src, _module_name(rel), rel.stem == "__init__")
                methods += [(rel, cls, name, bases.get(cls, ())) for cls, name in found]
    return [
        f"{rel} {cls}.{name}"
        for rel, cls, name, bases in methods
        if not (name.startswith("__") and name.endswith("__"))
        and name not in used
        and not any(hasattr(base, name) for base in bases)
    ]


def _external_bases(src: str, mod: str, is_package: bool) -> dict:
    """{class: base classes} for src's top-level classes, keeping only the
    bases that src imports from outside the repository or that are
    builtins."""
    froms, aliases, _ = _imports(src, mod, is_package, set())
    out = {}
    for m in _CLASS.finditer(src):
        bases = []
        for base in filter(None, (b.strip() for b in m[2].split(","))):
            head, _, rest = base.partition(".")
            if head in froms:
                source, attr = froms[head]
                path = [source, attr, *filter(None, rest.split("."))]
            elif head in aliases:
                path = [aliases[head], *filter(None, rest.split("."))]
            elif hasattr(builtins, head):
                path = ["builtins", head]
            else:
                continue
            if path[0].split(".")[0] in ("htmlx", *ROOT_DIRS):
                continue
            obj = importlib.import_module(path[0])
            for attr in path[1:]:
                obj = getattr(obj, attr)
            bases.append(obj)
        out[m[1]] = bases
    return out


# A top-level def or class line, with the decorators above it: the rule cuts
# a file into top-level statements there.
_CHUNK = re.compile(r"^(?:@.*\n)*(?:async def |def |class )", re.M)
# A def's signature; a superset test for "has a default" (a header this does
# not match still counts as having one).
_HEADER = re.compile(r"^(?:async )?def (\w+)\((.*?)\)\s*(?:->[^:\n]*)?:", re.M | re.S)


def _parse_naming(src: str, names: re.Pattern) -> list:
    """(line offset, module) for each top-level statement of src that names
    one of `names`. A cut inside a string or bracket leaves a statement that
    does not parse; then the whole file is parsed instead."""
    cuts = sorted({0, len(src), *(m.start() for m in _CHUNK.finditer(src))})
    try:
        return [
            (src.count("\n", 0, a), ast.parse(src[a:b]))
            for a, b in zip(cuts, cuts[1:])
            if names.search(src, a, b)
        ]
    except SyntaxError:
        return [(0, ast.parse(src))]


def _unbound_params(root: Path) -> list:
    sources = {}
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        if rel.parts[0] in CALLER_DIRS or str(rel) in ROOT_FILES:
            sources[rel] = path.read_text(encoding="utf-8")
    maybe = {
        m[1]
        for rel, src in sources.items()
        if rel.parts[0] == "htmlx"
        for m in _HEADER.finditer(src)
        if "=" in m[2]
    } | {  # headers _HEADER cannot read
        m[1]
        for rel, src in sources.items()
        if rel.parts[0] == "htmlx"
        for m in re.finditer(r"^(?:async )?def (\w+)", src, re.M)
        if not _HEADER.match(src, m.start())
    }
    if not maybe:
        return []
    names = re.compile(r"\b(?:%s)\b" % "|".join(sorted(maybe)))
    defs, keywords, positional, whole = [], defaultdict(set), Counter(), set()
    for rel, src in sources.items():
        for offset, tree in _parse_naming(src, names):
            if rel.parts[0] == "htmlx":
                defs += [
                    (rel, offset + node.lineno, node)
                    for node in tree.body
                    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                ]
            callees = set()
            for node in ast.walk(tree):
                if isinstance(node, ast.Call):
                    callee = node.func
                    name = getattr(callee, "id", None) or getattr(callee, "attr", None)
                    if name is None:
                        continue
                    callees.add(callee)
                    positional[name] = max(positional[name], len(node.args))
                    keywords[name].update(k.arg for k in node.keywords)
                    if rel.parts[0] != "tests" and (
                        any(k.arg is None for k in node.keywords)
                        or any(isinstance(a, ast.Starred) for a in node.args)
                    ):
                        whole.add(name)
                elif (
                    rel.parts[0] != "tests"
                    and isinstance(node, (ast.Name, ast.Attribute))
                    and isinstance(node.ctx, ast.Load)
                    and node not in callees
                ):
                    whole.add(getattr(node, "id", None) or node.attr)
    unbound = []
    for rel, line, node in defs:
        if node.name in whole:
            continue
        args = node.args
        ordered = args.posonlyargs + args.args
        defaulted = [
            (i, a.arg) for i, a in enumerate(ordered)
            if i >= len(ordered) - len(args.defaults)
        ] + [
            (None, a.arg)
            for a, d in zip(args.kwonlyargs, args.kw_defaults)
            if d is not None
        ]
        unbound += [
            f"{rel}:{line} {node.name}({param}=)"
            for i, param in defaulted
            if param not in keywords[node.name]
            and (i is None or i >= positional[node.name])
        ]
    return unbound


def test_no_unreferenced_top_level_defs():
    dead = _unreached(ROOT)
    assert dead == [], (
        f"{len(dead)} top-level htmlx/ defs no root reaches:\n" + "\n".join(dead)
    )


def test_every_defaulted_parameter_is_bound():
    unbound = _unbound_params(ROOT)
    assert unbound == [], (
        f"{len(unbound)} defaulted parameters of top-level htmlx/ defs no call "
        "sets; make each a constant:\n" + "\n".join(unbound)
    )


def test_every_method_is_used():
    unused = _unused_methods(ROOT)
    assert unused == [], (
        f"{len(unused)} methods of top-level htmlx/ classes no code outside "
        "tests/ names:\n" + "\n".join(unused)
    )


def test_scan_ignores_comments_docstrings_and_definitions():
    module, defs, methods, attrs = _scan(
        '"""module doc names doc_word"""\n'
        "import helper_mod\n"
        "@decorate\n"
        "def used(\n    arg,\n):\n"
        '    """unused_a is named here"""\n    # unused_b\n'
        '    return helper(f"{inner}") + getattr(m, "by_key")\n'
        "TABLE = {'row': used}\n"
        "class Kls:\n    def method(self):\n        return Other\n"
        "async def coro(): pass\n"
        "LIMIT: int = (\n    BASE\n)\n"
        "__all__ = [exported]\n"
        "if LIMIT == 1:\n    pass\n"
    )
    assert [name for name, _ in defs] == ["used", "TABLE", "Kls", "coro", "LIMIT"]
    assert {"helper", "inner", "by_key", "getattr"} <= set(defs[0][1])
    assert not {"used", "unused_a", "unused_b", "TABLE"} & set(defs[0][1])
    assert {"row", "used"} <= set(defs[1][1]) and "TABLE" not in defs[1][1]
    assert "Other" in defs[2][1] and "method" not in defs[2][1]
    assert {"int", "BASE"} <= set(defs[4][1])
    assert {"helper_mod", "decorate", "exported", "LIMIT"} <= set(module)
    assert not {"doc_word", "Kls", "Other", "helper", "row", "BASE"} & set(module)
    assert methods == [("Kls", "method")]
    assert attrs == {"by_key", "row"}


def test_reachability_is_transitive_and_ignores_tests(tmp_path):
    files = {
        "jobs/run.py": "from htmlx.a import entry, REGISTRY\nentry()\n",
        "htmlx/a.py": (
            "from htmlx.b import registered\n"
            "def entry():\n    return middle()\n"
            "def middle():\n    return leaf\n"
            "def leaf(): pass\n"
            "def only_dead_calls():\n    return only_tests()\n"
            "def only_tests(): pass\n"
            "REGISTRY = {'row': registered}\n"
            "UNUSED_TABLE = {'row': only_in_table}\n"
            "__all__ = ['entry']\n"
        ),
        "htmlx/b.py": "def registered(): pass\ndef only_in_table(): pass\n",
        "tests/test_a.py": "from htmlx.a import only_tests\nonly_tests()\n",
    }
    for rel, src in files.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(src)
    assert _unreached(tmp_path) == [
        "htmlx/a.py only_dead_calls",
        "htmlx/a.py only_tests",
        "htmlx/a.py UNUSED_TABLE",
        "htmlx/b.py only_in_table",
    ]


def test_names_resolve_through_imports_not_method_names(tmp_path):
    files = {
        "jobs/run.py": (
            "import htmlx.c\n"
            "from htmlx import d\n"
            "from htmlx.a import Extractor\n"
            "Extractor().extract_text(b'')\n"
            "htmlx.c.by_path()\n"
            "d.by_alias()\n"
            "getattr(d, 'by_string')\n"
        ),
        "htmlx/a.py": (
            "class Extractor:\n"
            "    def extract_text(self, b):\n        return b\n"
            "def extract_text(b):\n    return Extractor().extract_text(b)\n"
        ),
        "htmlx/c.py": "def by_path(): pass\ndef unused(): pass\n",
        "htmlx/d.py": (
            "from .e import helper as by_alias\n"
            "def by_string(): pass\n"
            "def column(): pass\n"
            "print('column')\n"
        ),
        "htmlx/e.py": "def helper(): pass\n",
    }
    for rel, src in files.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(src)
    assert _unreached(tmp_path) == [
        "htmlx/a.py extract_text",
        "htmlx/c.py unused",
        "htmlx/d.py column",
    ]


def test_method_rule_counts_attribute_and_string_uses_and_overrides(tmp_path):
    files = {
        "jobs/run.py": (
            "from htmlx.a import Rec\n"
            "Rec().used()\n"
            "getattr(Rec(), 'by_string')\n"
            "Rec().chained().via_call\n"
        ),
        "htmlx/a.py": (
            "from html.parser import HTMLParser\n"
            "class Parser(HTMLParser):\n"
            "    def handle_decl(self, decl):\n        pass\n"
            "    def helper(self):\n"
            "        def nested(self):\n            pass\n"
            "        return nested\n"
            "class Rec:\n"
            '    """def in_docstring(self): not a method"""\n'
            "    def used(self):\n        return self\n"
            "    def by_string(self): pass\n"
            "    def chained(self): return self\n"
            "    @property\n    def via_call(self): return 1\n"
            "    def only_tests(self): pass\n"
            "    def __repr__(self): return ''\n"
            "def nested(): pass\n"
        ),
        "tests/test_a.py": "from htmlx.a import Rec\nRec().only_tests()\n",
    }
    for rel, src in files.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(src)
    assert _unused_methods(tmp_path) == ["htmlx/a.py Parser.helper", "htmlx/a.py Rec.only_tests"]


def test_parameter_rule_reports_only_the_unbound_parameter(tmp_path):
    files = {
        "jobs/run.py": (
            "from htmlx.a import by_pos, by_kw, spread, recurse\n"
            "by_pos(1, 2)\n"
            "by_kw(1, k=2)\n"
            "spread(**{'x': 1})\n"
            "recurse(5)\n"
            "REGISTRY = {'cb': as_callback}\n"
        ),
        "htmlx/a.py": (
            "def by_pos(a, b=1):\n    return a + b\n"
            "def by_kw(a, *, k=1):\n    return a + k\n"
            "def seam(a, counter=None):\n    return a\n"
            "def spread(x=1, y=2):\n    return x + y\n"
            "def as_callback(v, scale=2):\n    return v * scale\n"
            "def recurse(n, depth=0):\n"
            "    return depth if n == 0 else recurse(n - 1, depth=depth + 1)\n"
            "def knob(a, limit=10, name='x'):\n    return a[:limit] + name\n"
            "knob('abc', name='y')\n"
        ),
        "tests/test_a.py": (
            "from htmlx.a import seam, knob\n"
            "seam(1, counter=object())\n"
            "knob(**{'limit': 3})\n"
        ),
        "tools/use.py": "from htmlx.a import knob\nknob('z')\n",
    }
    for rel, src in files.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(src)
    assert _unbound_params(tmp_path) == ["htmlx/a.py:13 knob(limit=)"]
