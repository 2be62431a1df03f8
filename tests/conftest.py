import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from r2rml_parser_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="r2rml-parser-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    yield s


#: test module → the corpus its skips stand for
SKIPPED_CORPORA = {
    "test_compliance.py": "W3C RDB2RDF pairs",
    "test_production_mappings.py": "production mappings",
    "test_properties_cli.py": "properties CLI",
}


def pytest_terminal_summary(terminalreporter):
    """One line per corpus whose tests were skipped, with the count, so a
    run without the reference checkout says what it did not check."""
    counts: dict[str, int] = {}
    for rep in terminalreporter.stats.get("skipped", []):
        module = os.path.basename(rep.nodeid.split("::")[0])
        if module in SKIPPED_CORPORA:
            counts[SKIPPED_CORPORA[module]] = counts.get(SKIPPED_CORPORA[module], 0) + 1
    if counts:
        terminalreporter.write_sep("-", "skipped corpora")
        for corpus, n in counts.items():
            terminalreporter.write_line(f"{corpus}: {n} skipped")
