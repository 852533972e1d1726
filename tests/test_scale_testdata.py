"""scale_testdata's id headroom: renumbered ids stay below the 10^6
offset the corpus builders add."""

from __future__ import annotations

from scale_testdata import ID_LIMIT, max_factor


def test_max_factor_keeps_renumbered_ids_below_limit():
    for max_id in (0, 499, 1999, 4999, 999_998):
        f = max_factor(max_id)
        assert (max_id + 1) * f < ID_LIMIT
        assert (max_id + 1) * (f + 1) >= ID_LIMIT
        # largest renumbered id: max_id * factor + (factor - 1)
        assert max_id * f + f - 1 < ID_LIMIT
    assert max_factor(4999) == 199  # sf0.1 documents
