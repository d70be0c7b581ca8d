import glob
import json
import os

import pytest

FIXDIR = os.path.join(os.path.dirname(__file__), "fixtures", "draft4")
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


def load_fixture_cases():
    """(group, feature_desc, case_desc, schema, refs, data, valid) tuples."""
    cases = []
    for path in sorted(glob.glob(os.path.join(FIXDIR, "*.json"))):
        group = os.path.splitext(os.path.basename(path))[0]
        with open(path) as f:
            features = json.load(f)
        for feat in features:
            for t in feat["tests"]:
                cases.append((
                    group, feat["description"], t["description"],
                    feat["schema"], feat.get("refs", {}), t["data"], t["valid"],
                ))
    return cases


def pytest_configure(config):
    # a pandas UDF declared by a function-type argument instead of type
    # hints (deprecated) fails the suite instead of printing a warning
    config.addinivalue_line(
        "filterwarnings",
        "error:.*preferred to specify type hints for pandas UDF:UserWarning",
    )


@pytest.fixture(scope="session")
def spark():
    from schema_fantasy_spark.session import get_spark

    s = get_spark(app_name="sfs-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()
