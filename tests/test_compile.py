"""Source-compile guard: every Python file of the project compiles with no
SyntaxWarning or DeprecationWarning (an invalid escape such as ``'\\s'`` in a
non-raw string warns today and is an error in a later Python). Reads the
files and edits none; no Spark."""

import glob
import os
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREES = ("otel_tail_sampler_spark", "scripts", "perfbench", "tests")


def test_sources_compile_without_warnings():
    files = glob.glob(os.path.join(ROOT, "*.py"))
    for tree in TREES:
        found = glob.glob(os.path.join(ROOT, tree, "**", "*.py"), recursive=True)
        assert found, tree
        files += found
    assert os.path.join(ROOT, "__spark_entry__.py") in files
    failures = []
    for path in sorted(files):
        with open(path, encoding="utf-8") as f:
            src = f.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            try:
                compile(src, path, "exec")
            except (SyntaxError, SyntaxWarning, DeprecationWarning) as e:
                failures.append(f"{os.path.relpath(path, ROOT)}: {e}")
    assert not failures, "\n".join(failures)
