"""bench.py's stdout line: the per-query map must survive the size cap."""

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_compact_line_keeps_every_leg():
    with open(os.path.join(REPO, "BENCH_DETAIL.json")) as fh:
        detail = json.load(fh)
    line = _bench().compact_line(detail)
    assert len(line) <= 1900
    compact = json.loads(line)
    assert set(compact["queries"]) == set(detail["queries"])
    assert len(compact["queries"]) == 68
    assert compact["value"] == detail["value"]
