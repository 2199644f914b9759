"""The composed end-to-end scenario (scripts/scenario_smoke.py) at
pytest scale: sharded build + aux projections, streamed NRT delta,
verify, and the full scripted query session with federated ==
monolithic rank identity. Catches integration drift BETWEEN waves
(aux refresh after rebuild, cursor contracts across paths, fed/mono
score parity) that the per-operator tests can't see."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_composed_scenario_small(spark, tmp_path):
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from scenario_smoke import run
    out = run(spark, str(tmp_path), 3000, 300)
    assert out["all_green"], out
    # every surface the scenario claims to cover actually ran
    assert set(out["checks"]) >= {
        "plain", "boolean_must_not", "filtered", "after_page1",
        "after_page2", "batch", "wildcard", "pruned", "fuzzy",
        "suggest", "collapse", "synonym", "facets", "explain",
        "reshard", "sig_terms", "histogram"}, out
