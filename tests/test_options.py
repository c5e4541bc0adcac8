"""No option and no function that no caller uses (ROADMAP aim 2).

Every library parameter with a default must be set by at least one call
outside ``tests/``, or sit on ``ALLOWED`` with the reason it exists
without one. A test is not a caller: an option only a test sets is a
constant the test can monkeypatch. The audit parses source only; it
starts no Spark session.

Every top-level def, class and assigned name of the library (dunder
names exempt) must be reachable by name from a program: the caller files,
the library's module-level code, and the ``ENTRY_POINTS`` that a
deployment calls from outside the repository. Reachability runs through
the code of reached names. A ``Name``, an ``Attribute`` or an identifier
string constant is a reference; an import alone is not, and nothing under
``tests/`` is. Names are matched across modules, which errs towards
keeping a name.

A parameter with a default is *passed* when some non-test call of its
function sets it: by keyword, by a positional argument at or past its index, or through
``*args``/``**kw`` (which counts as setting every parameter).
``functools.partial(f, ...)`` counts as a call of ``f``. Each field with a
default of a library dataclass counts as a parameter too. It is passed by
a constructor keyword, a positional argument at its index, a constructor
``**`` or a ``dataclasses.replace(x, field=)``; a ``**`` into ``replace``
names no class, so it sets nothing, and a ``ClassVar`` is not a field.
Calls are matched to functions by name only, so functions that share a name
across modules are matched together; that errs towards keeping a
parameter.

Every parameter of a top-level library def, or of a method of a
top-level class, must be read by its body: a ``Name`` load of it, which
counts in a nested def or lambda too. A method's ``self`` or ``cls`` is
exempt, and so is every nested def, whose signature Spark fixes
(``fn(key, pdfs, state)``).

The md5 order key ``md5(concat_ws("|", key, seed))`` is written once, as
``functions.hashing.hash_key``: no other file of the library, ``scripts/``,
``perfbench/`` or the benchmark files calls ``md5`` on a ``"|"``
``concat_ws``.

Every import in the library, ``scripts/`` and ``perfbench/`` must be
used: its bound name is referenced in the module, named in ``__all__``,
or used in a string annotation. ``__future__`` imports are exempt, and
so are the benchmark files at the root (``CALLER_FILES``), which change
only with their benchmark.
"""

from __future__ import annotations

import ast
import functools
import os
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "otel_tail_sampler_spark"
CALLER_DIRS = (PACKAGE, "scripts", "perfbench")
CALLER_FILES = ("bench.py", "bench_extra.py", "__spark_entry__.py")
TESTS = "tests/"
# the one module that spells the md5 order key
ORDER_KEY_HOME = f"{PACKAGE}/functions/hashing.py"

# (module, function, parameter) -> why the option has no non-test caller.
# Each reason is a deployment setting, a clock injection, a job input or a
# safety record.
ALLOWED = {
    ("otel_tail_sampler_spark/streaming/stream_job.py",
     "run_streaming_pipeline", "available_now"):
        "deployment setting: False runs the stream continuously instead of "
        "draining what is there",
    ("otel_tail_sampler_spark/streaming/prep_stream.py", "run_prep_stream",
     "available_now"):
        "deployment setting: False runs the stream continuously instead of "
        "draining what is there",
    ("otel_tail_sampler_spark/streaming/stream_job.py", "read_kafka_stream",
     "starting_offsets"):
        "deployment setting: where a Kafka consumer starts reading",
    ("otel_tail_sampler_spark/operators/export.py", "span_export_projection",
     "env"):
        "deployment setting: the environment tag of exported spans",
    ("otel_tail_sampler_spark/operators/rule_store.py",
     "apply_rules_from_table", "now_ms"):
        "clock injection: lets a caller evaluate rule expiry at a fixed time",
    ("otel_tail_sampler_spark/plans/corpus_prep.py", "run_corpus_prep",
     "rates"):
        "job input: the per-source mixture rates of the prep run",
    ("otel_tail_sampler_spark/streaming/prep_stream.py", "run_prep_stream",
     "ref_digests"):
        "job input: digests of the standing corpus the stream dedups against",
    ("otel_tail_sampler_spark/streaming/prep_stream.py", "run_prep_stream",
     "schema"):
        "deployment setting: the stream schema, pinned when the stream "
        "starts before producers write the first file",
    ("otel_tail_sampler_spark/streaming/stream_job.py",
     "run_streaming_pipeline", "route_spans_from"):
        "deployment setting: path of the bronze table kept spans are "
        "exported from",
    ("otel_tail_sampler_spark/operators/packing.py", "write_shards",
     "manifest"):
        "safety record: the per-shard integrity manifest a loader verifies "
        "the written shards against",
}

# (module, name) -> why a deployment calls the name from outside the
# repository. Each reason is a job entry, a deployment source or sink, or
# an admin API.
ENTRY_POINTS = {
    ("otel_tail_sampler_spark/streaming/stream_job.py", "read_kafka_stream"):
        "deployment source: the Kafka span topic (gated by its jar)",
    ("otel_tail_sampler_spark/sources/iceberg.py", "read_iceberg"):
        "deployment source: the Iceberg span table (gated by its jar)",
    ("otel_tail_sampler_spark/sources/iceberg.py", "write_routed_iceberg"):
        "deployment sink: the Iceberg routed table (gated by its jar)",
    ("otel_tail_sampler_spark/operators/rule_store.py", "save_rule"):
        "admin API: create or update a force rule in the rule table",
    ("otel_tail_sampler_spark/operators/rule_store.py", "delete_rule"):
        "admin API: delete a force rule from the rule table",
    ("otel_tail_sampler_spark/operators/rule_store.py",
     "apply_rules_from_table"):
        "admin API: apply the rule table's live rules to decided traces",
}


def _sources() -> dict[str, str]:
    paths = [os.path.join(ROOT, f) for f in CALLER_FILES]
    for d in CALLER_DIRS:
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, d)):
            paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    out = {}
    for p in sorted(paths):
        if os.path.exists(p):
            with open(p) as fh:
                out[os.path.relpath(p, ROOT)] = fh.read()
    return out


def _callee_name(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


class _Collector(ast.NodeVisitor):
    """Optional parameters of library defs, and the calls of every file."""

    def __init__(self, path: str, defs: dict, calls: dict):
        self.path, self.defs, self.calls = path, defs, calls
        self.classes: list[ast.ClassDef] = []

    def visit_ClassDef(self, node: ast.ClassDef) -> None:
        if self.path.startswith(PACKAGE) and any(
            _callee_name(d.func if isinstance(d, ast.Call) else d) == "dataclass"
            for d in node.decorator_list
        ):
            fields = [
                f for f in node.body
                if isinstance(f, ast.AnnAssign) and isinstance(f.target, ast.Name)
                and "ClassVar" not in ast.unparse(f.annotation)
            ]
            for i, f in enumerate(fields):
                if f.value is None:
                    continue
                # set through the constructor, or by keyword through
                # dataclasses.replace
                for callee, idx in ((node.name, i), ("replace", None)):
                    self.defs.setdefault(callee, []).append(
                        (self.path, node.name, f.target.id, idx, False)
                    )
        self.classes.append(node)
        self.generic_visit(node)
        self.classes.pop()

    def visit_FunctionDef(self, node) -> None:
        cls = self.classes[-1] if self.classes else None
        in_class = cls is not None and node in cls.body
        if self.path.startswith(PACKAGE):
            a = node.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            params = [(p.arg, i) for i, p in enumerate(pos) if i >= first]
            params += [
                (p.arg, None)
                for p, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            ]
            is_method = in_class and not any(
                isinstance(d, ast.Name) and d.id == "staticmethod"
                for d in node.decorator_list
            )
            # a constructor is called by its class name
            name = cls.name if in_class and node.name == "__init__" else node.name
            for pname, idx in params:
                self.defs.setdefault(name, []).append(
                    (self.path, node.name, pname, idx, is_method)
                )
        outer, self.classes = self.classes, []
        self.generic_visit(node)
        self.classes = outer

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node: ast.Call) -> None:
        name = _callee_name(node.func)
        args = list(node.args)
        bound = isinstance(node.func, ast.Attribute)
        if name == "partial" and args:
            name, args, bound = _callee_name(args[0]), args[1:], False
        if name:
            star = any(isinstance(x, ast.Starred) for x in args) or any(
                k.arg is None for k in node.keywords
            )
            kws = {k.arg for k in node.keywords if k.arg}
            self.calls.setdefault(name, []).append((len(args), kws, star, bound))
        self.generic_visit(node)


def _parse(sources: dict[str, str]) -> dict[str, ast.Module]:
    """The syntax trees of the files of ``sources`` outside ``tests/``."""
    trees = {}
    for path, src in sources.items():
        if path.startswith(TESTS):
            continue
        with warnings.catch_warnings():
            # invalid escapes in scanned files' string literals are theirs
            warnings.simplefilter("ignore", DeprecationWarning)
            warnings.simplefilter("ignore", SyntaxWarning)
            trees[path] = ast.parse(src, path)
    return trees


@functools.cache
def _repo() -> dict[str, ast.Module]:
    # one walk and one parse of the repository for both rules
    return _parse(_sources())


def never_passed(trees: dict[str, ast.Module]) -> set[tuple[str, str, str]]:
    """(module, function, parameter) for every library parameter with a
    default that no call in ``trees`` sets."""
    defs: dict = {}
    calls: dict = {}
    for path, tree in trees.items():
        _Collector(path, defs, calls).visit(tree)
    unset, passed = set(), set()
    for name, params in defs.items():
        for path, fname, pname, idx, is_method in params:
            for npos, kws, star, bound in calls.get(name, ()):
                # obj.method(a) fills the parameter after self
                off = 1 if is_method and bound and fname != "__init__" else 0
                if (
                    (star and name != "replace")
                    or pname in kws
                    or (idx is not None and npos + off > idx)
                ):
                    passed.add((path, fname, pname))
                    break
            else:
                unset.add((path, fname, pname))
    # a dataclass field is listed under its class and under replace: one
    # setter is enough
    return unset - passed


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


def unread_params(trees: dict[str, ast.Module]) -> set[tuple[str, str, str]]:
    """(module, function, parameter) for every parameter of a top-level
    library def, or of a method of a top-level class, that its body never
    reads."""
    out = set()
    for path, tree in trees.items():
        if not path.startswith(PACKAGE):
            continue
        fns = [(n, 0) for n in tree.body if isinstance(n, _DEFS)]
        for cls in tree.body:
            if isinstance(cls, ast.ClassDef):
                fns += [
                    (m, 0 if any(_callee_name(d) == "staticmethod"
                                 for d in m.decorator_list) else 1)
                    for m in cls.body if isinstance(m, _DEFS)
                ]
        for fn, bound in fns:
            a = fn.args
            params = (a.posonlyargs + a.args)[bound:] + a.kwonlyargs
            params += [p for p in (a.vararg, a.kwarg) if p]
            read = {
                n.id for stmt in fn.body for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
            }
            out |= {(path, fn.name, p.arg) for p in params if p.arg not in read}
    return out


def unused_imports(trees: dict[str, ast.Module]) -> set[tuple[str, str]]:
    """(module, name) for every name an import binds in ``CALLER_DIRS``
    that its module never uses."""
    out = set()
    for path, tree in trees.items():
        if not path.startswith(CALLER_DIRS):
            continue
        used = set()
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                used.add(n.id)
            elif isinstance(n, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
            ):
                used |= {
                    c.value for c in ast.walk(n.value) if isinstance(c, ast.Constant)
                }
            annotation = getattr(n, "annotation", None) or getattr(n, "returns", None)
            if isinstance(annotation, ast.Constant) and isinstance(annotation.value, str):
                used |= {
                    m.id for m in ast.walk(ast.parse(annotation.value, mode="eval"))
                    if isinstance(m, ast.Name)
                }
        for n in ast.walk(tree):
            if isinstance(n, ast.Import):
                bound = [a.asname or a.name.split(".")[0] for a in n.names]
            elif isinstance(n, ast.ImportFrom) and n.module != "__future__":
                bound = [a.asname or a.name for a in n.names if a.name != "*"]
            else:
                continue
            out |= {(path, b) for b in bound if b not in used}
    return out


def inline_order_keys(trees: dict[str, ast.Module]) -> set[tuple[str, int]]:
    """(module, line) of every ``md5(concat_ws("|", ...))`` call outside
    ``ORDER_KEY_HOME``."""
    out = set()
    for path, tree in trees.items():
        if path == ORDER_KEY_HOME:
            continue
        for n in ast.walk(tree):
            if not (isinstance(n, ast.Call) and _callee_name(n.func) == "md5"):
                continue
            inner = n.args[0] if n.args else None
            if (
                isinstance(inner, ast.Call)
                and _callee_name(inner.func) == "concat_ws"
                and inner.args
                and isinstance(inner.args[0], ast.Constant)
                and inner.args[0].value == "|"
            ):
                out.add((path, n.lineno))
    return out


def _refs(code: list[ast.AST]) -> set[str]:
    """Names ``code`` references: a ``Name``, an ``Attribute`` or a string
    constant that is an identifier (a dispatch by name)."""
    out = set()
    for node in code:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                if n.value.isidentifier():
                    out.add(n.value)
    return out


def _owned(stmt: ast.stmt) -> tuple[list[str], ast.AST | None]:
    """The top-level names ``stmt`` defines and the code they own."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name], stmt
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)) and stmt.value is not None:
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        names = []
        for t in targets:
            elts = t.elts if isinstance(t, ast.Tuple) else [t]
            if not all(isinstance(e, ast.Name) for e in elts):
                return [], None
            names += [e.id for e in elts]
        return names, stmt.value
    return [], None


def unreached(
    trees: dict[str, ast.Module], entry_points=ENTRY_POINTS
) -> set[tuple[str, str]]:
    """(module, name) for every top-level def, class and assigned name of
    the library that no code in ``trees`` reaches by name from a root.

    The roots are the caller files, the library's module-level code that
    defines no name, dunder names, and ``entry_points``. A reached name
    reaches what its code references; imports are not references."""
    owners: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: list[ast.AST] = []
    for path, tree in trees.items():
        if not path.startswith(PACKAGE):
            roots.append(tree)
            continue
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            names, code = _owned(stmt)
            if not names or all(n.startswith("__") for n in names):
                roots.append(stmt)
            for n in names:
                if (path, n) in entry_points:
                    roots.append(code)
                if not n.startswith("__"):
                    owners.setdefault(n, []).append((path, code))
    reached: set[str] = set()
    todo = _refs(roots)
    while todo:
        name = todo.pop()
        if name in reached or name not in owners:
            continue
        reached.add(name)
        todo |= _refs([code for _p, code in owners[name]])
    return {
        (path, name)
        for name, defs in owners.items()
        if name not in reached
        for path, _code in defs
    } - set(entry_points)


def test_every_function_has_a_caller():
    dead = sorted(unreached(_repo()))
    assert not dead, (
        "library names no program reaches — delete each, or add the "
        "caller that needs it:\n" + "\n".join(f"  {m}: {n}" for m, n in dead)
    )


def test_entry_points_are_current():
    # an entry point that a program reaches, or that was removed, leaves
    # the list
    stale = sorted(set(ENTRY_POINTS) - unreached(_repo(), entry_points={}))
    assert not stale, f"ENTRY_POINTS entries that are reached or gone: {stale}"


def test_every_option_has_a_caller():
    unset = sorted(never_passed(_repo()) - set(ALLOWED))
    assert not unset, (
        "parameters no caller sets — make each the constant it defaults to, "
        "or add the caller that needs it:\n"
        + "\n".join(f"  {m}: {f}({p}=)" for m, f, p in unset)
    )


def test_allowlist_is_current():
    # an allowlisted option that gained a caller, or was removed, leaves
    # the list
    stale = sorted(set(ALLOWED) - never_passed(_repo()))
    assert not stale, f"ALLOWED entries that now have a caller: {stale}"


def test_every_parameter_is_read():
    unread = sorted(unread_params(_repo()))
    assert not unread, (
        "parameters their function never reads — delete each:\n"
        + "\n".join(f"  {m}: {f}({p})" for m, f, p in unread)
    )


def test_every_import_is_used():
    unused = sorted(unused_imports(_repo()))
    assert not unused, "imports nothing uses — delete each:\n" + "\n".join(
        f"  {m}: {n}" for m, n in unused
    )


def test_order_key_is_written_once():
    inline = sorted(inline_order_keys(_repo()))
    assert not inline, (
        'md5(concat_ws("|", ...)) outside functions/hashing.py — call '
        "hash_key instead:\n" + "\n".join(f"  {m}:{n}" for m, n in inline)
    )


def test_audit_rules_on_planted_sources():
    lib = f"{PACKAGE}/operators/planted.py"
    src = {
        lib: (
            "def op(df, a=1, b=2, *, c=3, d=4, e=5):\n    pass\n"
            "def fwd(df, **kw):\n    return op(df, **kw)\n"
            "def lone(x=0):\n    return helper()\n"
            "def helper():\n    pass\n"
            "def by_name():\n    pass\n"
            "LIMIT = 3\n"
            "class K:\n"
            "    def __init__(self, n=1):\n        pass\n"
            "    def m(self, y=0, z=0):\n        pass\n"
        ),
        "scripts/planted.py": (
            "from functools import partial\n"
            "from otel_tail_sampler_spark.operators.planted import fwd\n"
            "op(df, 10, c=30)\n"
            "partial(op, d=40)\n"
            "K().m(1)\n"
            "getattr(planted, 'by_name')()\n"
        ),
        # a test is not a caller: lone(x=) and K(n=) stay unset, and
        # lone and LIMIT stay unreached
        "tests/test_planted.py": "lone(x=1)\nK(n=2)\nassert LIMIT\n",
    }
    got = {(f, p) for _m, f, p in never_passed(_parse(src))}
    # a: positional; c: keyword; d: through partial; y: bound-method
    # positional; fwd's **kw is a call with **, setting all of op's
    assert got == {("lone", "x"), ("__init__", "n"), ("m", "z")}
    # the function rule: fwd is only imported, lone only called by a test,
    # helper only reached through lone; op and K are called, by_name is
    # dispatched by a string constant
    dead = {(lib, n) for n in ("fwd", "lone", "helper", "LIMIT")}
    assert unreached(_parse(src), entry_points={}) == dead
    # an entry point is a root: it and its helpers are kept
    entry = {(lib, "lone"): "job entry: planted"}
    assert unreached(_parse(src), entry_points=entry) == dead - {
        (lib, "lone"), (lib, "helper")
    }
    src["scripts/planted.py"] += "lone(x=1)\n"
    assert ("lone", "x") not in {(f, p) for _m, f, p in never_passed(_parse(src))}
    assert unreached(_parse(src), entry_points={}) == {
        (lib, "fwd"), (lib, "LIMIT")
    }
    src[lib] = src[lib].replace("return op(df, **kw)", "return None")
    got = {(f, p) for _m, f, p in never_passed(_parse(src))}
    assert {("op", "b"), ("op", "e")} <= got

    # dataclass fields: a positional argument at the field's index, a
    # keyword, dataclasses.replace and a constructor ** set a field, a **
    # into replace does not; a ClassVar and a field without a default are
    # no option. The import rule: json and sys are bound and never used; a
    # string annotation, an attribute base and __all__ use a name, and
    # __future__ is exempt.
    dc = {
        lib: (
            "from dataclasses import dataclass\n"
            "from typing import ClassVar, Iterator\n"
            "import json\n"
            "import os.path\n"
            "from pkg import exported\n"
            "__all__ = ['exported']\n"
            "@dataclass(frozen=True)\n"
            "class Cfg:\n"
            "    req: int\n"
            "    pos: int = 0\n"
            "    kw: int = 0\n"
            "    rep: int = 0\n"
            "    unset: int = 0\n"
            "    tag: ClassVar[str] = 'x'\n"
            "@dataclass\n"
            "class Spread:\n"
            "    s: int = 0\n"
            "def f(it: 'Iterator[int]'):\n    return os.path.sep\n"
        ),
        "scripts/planted.py": (
            "from __future__ import annotations\n"
            "import sys\n"
            "Cfg(1, 2, kw=3)\n"
            "dataclasses.replace(c, rep=4)\n"
            "Spread(**opts)\n"
            "dataclasses.replace(c, **opts)\n"
        ),
    }
    assert {(f, p) for _m, f, p in never_passed(_parse(dc))} == {("Cfg", "unset")}

    # the read rule: a read in a closure counts, a write does not; self
    # and cls are exempt, a staticmethod's first parameter is not, and
    # nested defs (Spark callbacks) and files outside the library are not
    # scanned
    rd = {
        lib: (
            "def f(a, b, *args, c, d=0, **kw):\n"
            "    b = 1\n"
            "    def cb(key, pdfs, state):\n"
            "        return a + d\n"
            "    return cb, lambda: c\n"
            "class K:\n"
            "    def m(self, x, y):\n        return x\n"
            "    @classmethod\n"
            "    def k(cls):\n        pass\n"
            "    @staticmethod\n"
            "    def s(v):\n        pass\n"
        ),
        "scripts/planted.py": "def g(unused):\n    pass\n",
    }
    assert {(f, p) for _m, f, p in unread_params(_parse(rd))} == {
        ("f", "b"), ("f", "args"), ("f", "kw"), ("m", "y"), ("s", "v")
    }
    assert unused_imports(_parse(dc)) == {
        (lib, "json"), ("scripts/planted.py", "sys")
    }

    # the order-key rule: md5 over a "|" concat_ws, as a function or a
    # method, anywhere outside hashing.py; another separator, a bare md5
    # and the home module are no finding
    ok = {
        ORDER_KEY_HOME: 'F.md5(F.concat_ws("|", key, F.lit(seed)))\n',
        lib: (
            'a = F.md5(F.concat_ws("|", F.col("id"), F.lit("s")))\n'
            'b = F.md5(F.concat_ws(",", F.col("id")))\n'
            'c = F.md5(F.col("text"))\n'
        ),
        "scripts/planted.py": 'md5(concat_ws("|", x, lit("s")))\n',
    }
    assert inline_order_keys(_parse(ok)) == {(lib, 1), ("scripts/planted.py", 1)}
