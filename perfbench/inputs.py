"""Seeded input generators.  The same (params, seed) always gives the same
input; the program under test only ever sees the generated tables.

- webtext corpora come from the engine's own fixture generator
  (``rabbittclust_spark.fixtures.webtext``), whose documents derive from
  (seed, doc_id) alone;
- edge tables for the connected-components workload come from a numpy
  generator: a fixed number of long paths (the shape that needs the most
  star rounds) plus random trees with Zipf-distributed sizes, with node ids
  scattered by a seeded permutation.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from rabbittclust_spark.fixtures import webtext as wt


def webtext_corpus(params: dict, seed: int) -> pd.DataFrame:
    """(doc_id, text, truth_cluster, kind, mutation_rate), doc_id order."""
    p = wt.WebtextParams(seed=seed, **params)
    df = wt.generate_pandas(p)
    return df[["doc_id", "text", "truth_cluster", "kind", "mutation_rate"]]


def component_edges(params: dict, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Returns (edges(src, dst), truth(doc_id, cluster_id)) where cluster_id
    is the minimum node id of the planted component.

    ``paths`` components are paths of ``path_len`` nodes (a fixed count, so
    the number of star rounds does not swing with the seed); the rest are
    random trees with Zipf(``zipf_a``) sizes capped at ``max_component``,
    added until the table holds at least ``edges`` edges."""
    rng = np.random.default_rng([seed, 7])
    src_parts, dst_parts, comp_parts = [], [], []
    n_nodes = n_edges = comp = 0
    while n_edges < int(params["edges"]):
        if comp < int(params["paths"]):
            size = int(params["path_len"])
            local_parent = np.arange(size - 1)           # i+1 -> i: a path
        else:
            size = int(min(rng.zipf(float(params["zipf_a"])),
                           int(params["max_component"]))) + 1
            # node i links to a uniformly drawn earlier node: a random tree
            local_parent = (rng.random(size - 1) * np.arange(1, size)).astype(np.int64)
        ids = np.arange(n_nodes, n_nodes + size)
        src_parts.append(ids[1:])
        dst_parts.append(ids[local_parent])
        comp_parts.append(np.full(size, comp))
        n_nodes += size
        n_edges += size - 1
        comp += 1
    # scatter ids so that component minima are not contiguous blocks
    nodes = rng.permutation(n_nodes * 4)[:n_nodes].astype(np.int64)
    src = nodes[np.concatenate(src_parts)]
    dst = nodes[np.concatenate(dst_parts)]
    flip = rng.random(len(src)) < 0.5                   # random orientation
    src, dst = np.where(flip, dst, src), np.where(flip, src, dst)
    comps = np.concatenate(comp_parts)
    mins = pd.Series(nodes).groupby(comps).transform("min").to_numpy()
    edges = pd.DataFrame({"src": src, "dst": dst})
    truth = pd.DataFrame({"doc_id": nodes, "cluster_id": mins})
    return edges, truth


def frame_fingerprint(df: pd.DataFrame, cols: list[str]) -> str:
    """Order-free content hash of ``cols``: rows are sorted, then hashed
    with pandas' fixed-key row hash."""
    rows = df[cols].sort_values(cols).reset_index(drop=True)
    digest = pd.util.hash_pandas_object(rows, index=False).to_numpy()
    return hashlib.sha256(digest.tobytes()).hexdigest()[:16]
