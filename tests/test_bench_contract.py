"""The bench artifact contract: the final stdout line must be a single
JSON object small enough that the driver's bounded (~2 KB) stdout tail
captures it whole — round 3's numbers were lost to a 2 KB+ line.
No Spark needed; these run in milliseconds."""

import json
import sys

sys.path.insert(0, ".")

import bench  # noqa: E402


def _headline(n_queries=24, key_len=24, extra=None):
    h = {
        "metric": "er_pipeline_wall",
        "value": 27.8,
        "unit": "sec",
        "queries": {
            f"query_name_{i:0{key_len}d}": 1.234 for i in range(n_queries)
        },
        "f1": 0.99873,
        "score_scaling": {"wall8": 111.38, "wall32": 33.5,
                          "efficiency": 0.8312},
    }
    if extra:
        h.update(extra)
    return h


def test_typical_headline_fits_unshrunk():
    h = _headline()
    line = bench._shrink_headline(h)
    assert len(line) <= 1800
    assert "queries_truncated_see_detail" not in json.loads(line)
    assert len(json.loads(line)["queries"]) == 24


def test_oversized_headline_sheds_queries_not_truncates():
    h = _headline(n_queries=200, key_len=40)
    line = bench._shrink_headline(h)
    assert len(line) <= 1800
    parsed = json.loads(line)  # still valid JSON, never cut mid-string
    assert parsed["queries_truncated_see_detail"] is True
    # headline metrics survive the shedding
    assert parsed["value"] == 27.8
    assert parsed["f1"] == 0.99873
    assert parsed["score_scaling"]["efficiency"] == 0.8312


def test_oversized_nonquery_fields_are_shed_too():
    # Round-4 advice: once queries are gone the shrinker must keep
    # shedding optional fields (walls arrays etc.) rather than return
    # an over-limit line.
    h = _headline(n_queries=2)
    h["wall_cold"] = [50.31 + i * 0.001 for i in range(300)]
    h["ann_recall"] = {f"probe_{i:03d}": 0.4881 for i in range(100)}
    line = bench._shrink_headline(h)
    assert len(line) <= 1800
    parsed = json.loads(line)
    assert parsed["queries_truncated_see_detail"] is True
    # the load-bearing metrics always survive
    assert parsed["value"] == 27.8
    assert parsed["f1"] == 0.99873
    assert parsed["score_scaling"]["efficiency"] == 0.8312


def test_shrink_is_idempotent_at_limit():
    h = _headline(n_queries=200, key_len=40)
    line1 = bench._shrink_headline(h)
    line2 = bench._shrink_headline(json.loads(line1))
    assert line1 == line2


def test_efficiency_headlines_median_pair_not_best():
    # The recorded score-probe pairs: one cross-window pair read 1.54,
    # which no N-vs-4N run can reach. The headline is the median pair;
    # the impossible ratio is flagged, and the raw list is kept.
    eff = bench.pair_efficiency([0.33, 0.63, 1.54])
    assert eff["efficiency"] == 0.63
    assert eff["over_unity"] == [1.54]
    assert eff["pair_efficiencies"] == [0.33, 0.63, 1.54]
    # a median above 1.0 is never headlined
    assert bench.pair_efficiency([1.1, 1.2, 0.9])["efficiency"] is None
