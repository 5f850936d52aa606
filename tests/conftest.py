import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

FIXTURE_WEIGHTS = REPO / "fixtures" / "ner_weights.npz"
# The project's program roots: the driver entry, the benches, the tools
# and the benchmark harness. Whatever none of them reaches is test-only.
PROGRAM_ROOTS = [
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    REPO / "bench_extra.py",
    *sorted((REPO / "tools").glob("*.py")),
    *sorted((REPO / "perfbench").glob("*.py")),
]
REF_DATA = Path("/root/reference/data")
TESTDATA = Path(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"))


@pytest.fixture(scope="session")
def spark():
    from golden_horse_spark.config import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # The fixtures are tiny, so the suite's wall time is Spark's fixed
    # cost per stage and per query: one shuffle partition per core (every
    # shuffle still spans several partitions), and the one-line plan
    # description Spark posts for each query and each adaptive re-plan
    # instead of the formatted one. Neither changes any result.
    s = get_spark(
        "golden-horse-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "8g",
            "spark.sql.ui.explainMode": "simple",
        },
    )
    yield s


@pytest.fixture(scope="session")
def weights_path():
    assert FIXTURE_WEIGHTS.exists(), "run tools/train_fixture.py first"
    return str(FIXTURE_WEIGHTS)
