import pytest


def pytest_addoption(parser):
    parser.addoption("--smoke", action="store_true",
                     help="also run a short benchmark run of each workload")


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: a full benchmark run")


def pytest_collection_modifyitems(config, items):
    if config.getoption("--smoke"):
        return
    skip = pytest.mark.skip(reason="needs --smoke")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)
