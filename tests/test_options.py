"""No option that no caller sets (ROADMAP aim 2).

Every library parameter with a default must be set by at least one call
outside ``tests/``, or sit on ``ALLOWED`` with the reason it exists
without one. A test is not a caller: an option only a test sets is a
constant the test can monkeypatch. The audit parses source only; it
starts no Spark session.

A parameter with a default is *passed* when some non-test call of its
function sets it: by keyword, by a positional argument at or past its index, or through
``*args``/``**kw`` (which counts as setting every parameter).
``functools.partial(f, ...)`` counts as a call of ``f``. Calls are matched
to functions by name only, so functions that share a name across modules
are matched together; that errs towards keeping a parameter.
"""

from __future__ import annotations

import ast
import os
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "otel_tail_sampler_spark"
CALLER_DIRS = (PACKAGE, "scripts", "perfbench")
CALLER_FILES = ("bench.py", "bench_extra.py", "__spark_entry__.py")
TESTS = "tests/"

# (module, function, parameter) -> why the option has no non-test caller.
# Each reason is a deployment setting, a clock injection, a job input or a
# safety record.
ALLOWED = {
    ("otel_tail_sampler_spark/operators/routing.py", "write_routed", "fmt"):
        "deployment setting: the sink format (parquet here, a lake table "
        "format in a deployment)",
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
    ("otel_tail_sampler_spark/operators/rule_store.py", "load_rules",
     "now_ms"):
        "clock injection: lets a caller evaluate rule expiry at a fixed time",
    ("otel_tail_sampler_spark/operators/rule_store.py",
     "apply_rules_from_table", "now_ms"):
        "clock injection: lets a caller evaluate rule expiry at a fixed time",
    ("otel_tail_sampler_spark/plans/checkpoint.py", "run_resumable",
     "force_rules"):
        "job input: the resumable job's rule set, matching run_and_write's",
    ("otel_tail_sampler_spark/plans/checkpoint.py", "run_resumable", "cfg"):
        "job input: the resumable job's sampler config, matching "
        "run_and_write's",
    ("otel_tail_sampler_spark/plans/checkpoint.py", "run_resumable",
     "n_buckets"):
        "deployment setting: the resume granularity, sized to the input "
        "(the checkpoint manifest records it)",
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
    ("otel_tail_sampler_spark/operators/corpus.py", "rates_for_budget",
     "weights"):
        "job input: the target source mixture the budget is split by "
        "(temperature_weights' output)",
    ("otel_tail_sampler_spark/operators/enrichment.py", "mark_exported",
     "exported_at_ms"):
        "clock injection: the export time stamped on the manifest rows",
    ("otel_tail_sampler_spark/operators/packing.py", "write_shards",
     "manifest"):
        "safety record: the per-shard integrity manifest a loader verifies "
        "the written shards against",
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


def never_passed(sources: dict[str, str]) -> set[tuple[str, str, str]]:
    """(module, function, parameter) for every library parameter with a
    default that no non-test call in ``sources`` sets."""
    defs: dict = {}
    calls: dict = {}
    for path, src in sources.items():
        if path.startswith(TESTS):
            continue
        with warnings.catch_warnings():
            # invalid escapes in scanned files' string literals are theirs
            warnings.simplefilter("ignore", DeprecationWarning)
            warnings.simplefilter("ignore", SyntaxWarning)
            tree = ast.parse(src, path)
        _Collector(path, defs, calls).visit(tree)
    out = set()
    for name, params in defs.items():
        for path, fname, pname, idx, is_method in params:
            for npos, kws, star, bound in calls.get(name, ()):
                # obj.method(a) fills the parameter after self
                off = 1 if is_method and bound and fname != "__init__" else 0
                if star or pname in kws or (idx is not None and npos + off > idx):
                    break
            else:
                out.add((path, fname, pname))
    return out


def test_every_option_has_a_caller():
    unset = sorted(never_passed(_sources()) - set(ALLOWED))
    assert not unset, (
        "parameters no caller sets — make each the constant it defaults to, "
        "or add the caller that needs it:\n"
        + "\n".join(f"  {m}: {f}({p}=)" for m, f, p in unset)
    )


def test_allowlist_is_current():
    # an allowlisted option that gained a caller, or was removed, leaves
    # the list
    stale = sorted(set(ALLOWED) - never_passed(_sources()))
    assert not stale, f"ALLOWED entries that now have a caller: {stale}"


def test_audit_rules_on_planted_sources():
    lib = f"{PACKAGE}/operators/planted.py"
    src = {
        lib: (
            "def op(df, a=1, b=2, *, c=3, d=4, e=5):\n    pass\n"
            "def fwd(df, **kw):\n    return op(df, **kw)\n"
            "def lone(x=0):\n    pass\n"
            "class K:\n"
            "    def __init__(self, n=1):\n        pass\n"
            "    def m(self, y=0, z=0):\n        pass\n"
        ),
        "scripts/planted.py": (
            "from functools import partial\n"
            "op(df, 10, c=30)\n"
            "partial(op, d=40)\n"
            "K().m(1)\n"
        ),
        # a test is not a caller: lone(x=) and K(n=) stay unset
        "tests/test_planted.py": "lone(x=1)\nK(n=2)\n",
    }
    got = {(f, p) for _m, f, p in never_passed(src)}
    # a: positional; c: keyword; d: through partial; y: bound-method
    # positional; fwd's **kw is a call with **, setting all of op's
    assert got == {("lone", "x"), ("__init__", "n"), ("m", "z")}
    src["scripts/planted.py"] += "lone(x=1)\n"
    assert ("lone", "x") not in {(f, p) for _m, f, p in never_passed(src)}
    src[lib] = src[lib].replace("return op(df, **kw)", "return None")
    got = {(f, p) for _m, f, p in never_passed(src)}
    assert {("op", "b"), ("op", "e")} <= got
