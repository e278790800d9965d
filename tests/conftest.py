from pathlib import Path

import pytest

from team_goldo_combat_log_parser_spark.session import get_spark

# the checkout these tests live in: subprocess launchers and the
# --py-files zip must import and ship this tree, not another one
REPO_ROOT = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "4g"})
    yield s


@pytest.fixture(scope="session")
def sf001():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01():
    return "/root/testdata/sf0.01"
