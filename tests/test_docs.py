"""Generated docs stay in step with the code they are generated from."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import gen_queries_md  # noqa: E402


def test_queries_md_is_regenerated():
    """QUERIES.md equals what ``tools/gen_queries_md.py`` renders from the
    registry's docstrings now: re-run the tool after editing a query."""
    with open(os.path.join(REPO, "QUERIES.md")) as f:
        assert f.read() == gen_queries_md.render()
