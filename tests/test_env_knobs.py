"""The engine's environment knobs are a closed list.

Every ``SPARK_GRAFT_*`` variable the engine package reads must be named
here, so adding a knob takes an explicit edit of this test. Each one is set
by a launcher (perfbench/run.py, bench.py or submit.py); any other Spark
setting goes through ``get_spark(extra_conf=...)``.
"""

import re

from .conftest import REPO

KNOBS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_CACHE",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_JIT_OPTS",
    "SPARK_GRAFT_LOCAL_DIR",
}

# os.environ.get("X", ...), os.getenv("X"), os.environ["X"]
READ = re.compile(
    r"""(?:environ\.get\(|getenv\(|environ\[)\s*["'](SPARK_GRAFT_[A-Z_]+)["']"""
)


def test_engine_reads_only_the_known_env_knobs():
    read = set()
    for path in (REPO / "go_distributed_log_search_spark").rglob("*.py"):
        for m in READ.finditer(path.read_text()):
            read.add(m.group(1))
    assert read == KNOBS
