"""Every engine function, class and option has a caller outside the tests.

A top-level ``def`` or ``class`` of the engine package counts as reached
when its name appears as a whole word in a non-test source other than on
its own ``def`` line. The non-test sources are the package, ``jobs/``,
``perfbench/``, ``bench.py`` and ``__spark_entry__.py``. Code that only
tests reach is deleted, so the unreached set is a closed list: keeping one
more such name takes an explicit edit of ``ALLOWED`` with its reason.

The same holds one level down, for options: a parameter whose default is a
``bool``, ``None`` or ``str`` literal usually switches between code paths,
and a path only tests switch on is deleted with its option.
``OPTIONS_ALLOWED`` closes the list of options that tests pass and no
non-test source does.
"""

import ast
import re
from collections import Counter

from .conftest import REPO

PACKAGE = REPO / "go_distributed_log_search_spark"

ALLOWED = {
    "parse_turns_grok_udf": (
        "the Arrow grok engine that test_search_and_grok compares the SQL "
        "engine against"
    ),
    "stream_ingest_available_now": (
        "the Structured Streaming ingest driver, pinned equal to the "
        "micro-batch loop by test_checkpoint_resume and test_commit_batch"
    ),
}

OPTIONS_ALLOWED = {
    "main(spark)": "tests substitute their session for the CLI's own",
    "make_pyfiles_zip(repo_root)": "tests zip a scratch tree instead of the repo",
    "connect_to_source(stream)": (
        "the Kafka stream source (reference S3/ST1); tests pin the option "
        "wiring against a mock source"
    ),
    "mix_rebalance(id_col)": "the fixture tables name their id column differently",
    "mix_rebalance(source_col)": "the fixture tables name their source column differently",
}

WORD = re.compile(r"\w+")

NON_TEST = [
    "go_distributed_log_search_spark",
    "jobs",
    "perfbench",
    "bench.py",
    "__spark_entry__.py",
]


def _sources(names):
    for name in names:
        path = REPO / name
        yield from (path.rglob("*.py") if path.is_dir() else [path])


def test_only_the_allowed_definitions_lack_a_non_test_caller():
    paths = list(_sources(NON_TEST))
    texts = {p: p.read_text() for p in paths}
    words = Counter(w for t in texts.values() for w in WORD.findall(t))
    unreached = set()
    for path in PACKAGE.rglob("*.py"):
        lines = texts[path].splitlines()
        for node in ast.parse(texts[path]).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                on_def_line = WORD.findall(lines[node.lineno - 1]).count(node.name)
                if words[node.name] == on_def_line:
                    unreached.add(node.name)
    assert unreached == set(ALLOWED)


def _options():
    """(function, parameter) -> positional index (None: keyword-only) of
    every engine parameter whose default is a bool, None or str literal."""
    out = {}
    for path in PACKAGE.rglob("*.py"):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            a = fn.args
            positional = [p.arg for p in a.posonlyargs + a.args]
            if positional[:1] in (["self"], ["cls"]):
                positional = positional[1:]  # called as obj.method(...)
            params = a.posonlyargs + a.args
            pairs = list(zip(params[len(params) - len(a.defaults):], a.defaults))
            pairs += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
            for p, d in pairs:
                if isinstance(d, ast.Constant) and type(d.value) in (bool, str, type(None)):
                    i = positional.index(p.arg) if p.arg in positional else None
                    out[(fn.name, p.arg)] = i
    return out


def _passed(paths, options, unpacked_passes_all):
    """The options some call in ``paths`` passes, by keyword or position.
    Calls match by the callee's name. A ``*args``/``**kwargs`` call passes
    every option of its callee when ``unpacked_passes_all``."""
    out = set()
    for path in paths:
        for call in ast.walk(ast.parse(path.read_text())):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            keywords = {k.arg for k in call.keywords}
            unpacked = None in keywords or any(
                isinstance(a, ast.Starred) for a in call.args
            )
            for (fn, param), i in options.items():
                if fn == name and (
                    param in keywords
                    or (i is not None and i < len(call.args))
                    or (unpacked and unpacked_passes_all)
                ):
                    out.add((fn, param))
    return out


def test_options_have_callers():
    options = _options()
    by_tests = _passed(_sources(["tests"]), options, unpacked_passes_all=False)
    by_engine = _passed(_sources(NON_TEST), options, unpacked_passes_all=True)
    only_tests = {f"{fn}({param})" for fn, param in by_tests - by_engine}
    assert only_tests == set(OPTIONS_ALLOWED)
