from __future__ import annotations

import pytest

from linkbench.workloads import WORKLOADS, fingerprint


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_seed_fixes_the_input(spark, name, monkeypatch):
    wl = WORKLOADS[name]()
    small = {"n_pages": 40, "n_sites": 4} if name == "web_pipeline" else {"n_edges": 500, "n_vertices": 50}
    monkeypatch.setattr(wl, "params", {**wl.params, **small})
    fp = [fingerprint(wl.setup(spark, seed)) for seed in (3, 3, 4)]
    assert fp[0] == fp[1]
    assert fp[0] != fp[2]
