"""Every engine function and class has a caller outside the tests.

A top-level ``def`` or ``class`` of the engine package counts as reached
when its name appears as a whole word in a non-test source other than on
its own ``def`` line. The non-test sources are the package, ``jobs/``,
``perfbench/``, ``bench.py`` and ``__spark_entry__.py``. Code that only
tests reach is deleted, so the unreached set is a closed list: keeping one
more such name takes an explicit edit of ``ALLOWED`` with its reason.
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

WORD = re.compile(r"\w+")


def test_only_the_allowed_definitions_lack_a_non_test_caller():
    paths = [
        *PACKAGE.rglob("*.py"),
        *(REPO / "jobs").rglob("*.py"),
        *(REPO / "perfbench").rglob("*.py"),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]
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
