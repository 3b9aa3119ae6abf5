"""Self-tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
import pytest  # noqa: E402

from perfbench import inputs  # noqa: E402
from perfbench.run import select_metrics  # noqa: E402
from perfbench.trace import Span, Tracer, layer_metrics, self_times  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    assignment_failures,
    pair_quality,
    webtext_truth,
)

TINY_TEXT = {"num_clusters": 3, "members_per_cluster": 3, "num_singletons": 2,
             "num_short": 1, "hot_cluster_size": 2, "min_doc_tokens": 30,
             "max_doc_tokens": 60}
TINY_EDGES = {"edges": 60, "zipf_a": 1.8, "max_component": 12,
              "paths": 2, "path_len": 6}


def _text_fp(seed):
    return inputs.frame_fingerprint(inputs.webtext_corpus(TINY_TEXT, seed),
                                    ["doc_id", "text"])


def _edges_fp(seed):
    edges, _ = inputs.component_edges(TINY_EDGES, seed)
    return inputs.frame_fingerprint(edges, ["src", "dst"])


def test_webtext_same_seed_same_input():
    assert _text_fp(3) == _text_fp(3)
    assert _text_fp(3) != _text_fp(4)


def test_edges_same_seed_same_input():
    assert _edges_fp(3) == _edges_fp(3)
    assert _edges_fp(3) != _edges_fp(4)


def test_edges_truth_is_component_minimum():
    edges, truth = inputs.component_edges(TINY_EDGES, 5)
    assert len(edges) >= TINY_EDGES["edges"]
    lookup = truth.set_index("doc_id")["cluster_id"]
    # every edge joins two nodes of one planted component
    assert (lookup[edges["src"]].to_numpy() == lookup[edges["dst"]].to_numpy()).all()
    mins = truth.groupby("cluster_id")["doc_id"].min()
    assert (mins.index == mins.to_numpy()).all()


def test_fingerprint_ignores_row_order():
    df = pd.DataFrame({"a": [3, 1, 2], "b": [9, 8, 7]})
    shuffled = df.iloc[[2, 0, 1]]
    assert inputs.frame_fingerprint(df, ["a", "b"]) == \
        inputs.frame_fingerprint(shuffled, ["a", "b"])


def test_self_time_subtracts_children_and_merges_overlap():
    spans = [Span(0, "root", None, 0.0, 10.0),
             Span(1, "a", 0, 1.0, 4.0),
             Span(2, "b", 0, 3.0, 6.0),      # overlaps a: covered = 1..6
             Span(3, "c", 0, 9.0, 12.0),     # clipped to the parent: 9..10
             Span(4, "a.child", 1, 2.0, 3.0)]
    st = self_times(spans)
    assert st[0] == 10.0 - (5.0 + 1.0)
    assert st[1] == 3.0 - 1.0
    assert st[2] == 3.0
    assert st[4] == 1.0


def test_layer_self_times_account_for_root_wall():
    ticks = iter([0.0, 1.0, 3.0, 3.5, 7.0, 8.0])
    tr = Tracer(clock=lambda: next(ticks))
    with tr.span("workload"):
        with tr.span("sketch"):
            pass
        with tr.span("pairs"):
            pass
    layers = layer_metrics(tr.spans, cores=4)
    assert layers["workload"]["wall_s"] == 8.0
    assert layers["sketch"]["self_s"] == 2.0
    assert layers["pairs"]["self_s"] == 3.5
    # the remainder is what no layer covers; parts sum to the whole
    assert layers["workload"]["self_s"] == 2.5
    assert sum(m["self_s"] for m in layers.values()) == 8.0


def test_pair_quality_and_assignment_gates():
    corpus = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "truth_cluster": [10, 10, 10, 11, 12],
        "kind": ["seed", "near", "near", "singleton", "singleton"],
        "mutation_rate": [0.0, 0.05, 0.05, 0.0, 0.0]})
    truth = webtext_truth(corpus)
    good = pd.DataFrame({"doc_id": [1, 2, 3, 4, 5], "cluster_id": [1, 1, 1, 4, 5]})
    q = pair_quality(good, truth)
    assert q["pair_recall"] == 1.0 and q["pair_precision"] == 1.0
    split = pd.DataFrame({"doc_id": [1, 2, 3, 4, 5], "cluster_id": [1, 1, 3, 1, 5]})
    q = pair_quality(split, truth)
    assert q["pair_recall"] == 1 / 3          # 1 of the 3 planted pairs
    assert q["pair_precision"] == 1 / 3       # (1,2) right; (1,4), (2,4) wrong
    assert assignment_failures(good, good["doc_id"].to_numpy()) == []
    bad = pd.DataFrame({"doc_id": [1, 2, 2], "cluster_id": [2, 2, 2]})
    fails = assignment_failures(bad, good["doc_id"].to_numpy())
    assert len(fails) == 3


def test_select_metrics_zeroes_only_layers_not_called():
    specs = [{"name": "sketch.wall_s", "unit": "s"},
             {"name": "plans.pipeline.sketches.stored_bytes", "unit": "B"},
             {"name": "components.iterations", "unit": "count"},
             {"name": "trace.wall_s", "unit": "s"}]
    values = {"components.iterations": 7, "trace.wall_s": 8.5,
              "pairs.candidates": 3}
    got = select_metrics(specs, values, ["components"])
    assert [n for n in got] == [m["name"] for m in specs]
    assert got["components.iterations"] == {"value": 7.0, "unit": "count"}
    assert got["trace.wall_s"]["value"] == 8.5
    assert got["sketch.wall_s"]["value"] == 0.0
    assert got["plans.pipeline.sketches.stored_bytes"]["value"] == 0.0


def test_select_metrics_refuses_an_unmeasured_metric():
    with pytest.raises(ValueError, match="components.iterations"):
        select_metrics([{"name": "components.iterations", "unit": "count"}],
                       {}, ["components"])
    with pytest.raises(ValueError, match="wall_s"):
        select_metrics([{"name": "wall_s", "unit": "s"}], {})
