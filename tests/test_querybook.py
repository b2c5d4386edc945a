"""QUERYBOOK.md must stay in sync with the registry and bench artifacts.

The book is a generated artifact (tools/make_querybook.py); a registry
edit, a demotion/promotion, a doc change, or a refreshed bench artifact
without a regeneration should fail HERE, not rot silently.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


def test_querybook_in_sync():
    # Compare MASKED renders: registry structure (membership, gate status,
    # oracle presence, tags, docs) must match, but bench wall-times and
    # artifact filenames are ignored — the driver's post-commit bench run
    # refreshes BENCH_DETAIL.json in the working tree, and that churn must
    # not make a clean-room `pytest tests/` look broken (r12 VERDICT #2).
    from make_querybook import mask_walls, render

    with open(os.path.join(REPO, "QUERYBOOK.md")) as f:
        checked_in = f.read()
    assert mask_walls(checked_in) == mask_walls(render()), (
        "QUERYBOOK.md is structurally stale — regenerate with: "
        "python tools/make_querybook.py"
    )


def test_mask_walls_ignores_bench_churn():
    """A wall-time-only BENCH_DETAIL refresh must not change the masked render."""
    from make_querybook import mask_walls

    a = "| `q1` | sql | agg | 1.23 | — | x1.32 | doc with x9.99 kept |"
    b = "| `q1` | sql | agg | 4.56 | 0.10 | — | doc with x9.99 kept |"
    assert mask_walls(a) == mask_walls(b)
    # structure changes still differ
    c = "| `q2` | sql | agg | 1.23 | — | x1.32 | doc with x9.99 kept |"
    assert mask_walls(a) != mask_walls(c)
    # artifact-filename churn in the header is masked too
    assert mask_walls("full = BENCH_ALL_r12.json;") == mask_walls(
        "full = BENCH_ALL_r13.json;"
    )


def test_querybook_covers_every_query():
    from railgun_spark import suite

    suite._ensure_loaded()
    with open(os.path.join(REPO, "QUERYBOOK.md")) as f:
        book = f.read()
    for name in list(suite.REGISTRY) + list(suite.EXTRA):
        assert f"`{name}`" in book, name
