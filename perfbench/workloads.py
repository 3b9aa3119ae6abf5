"""The benchmark's workloads.

Each workload generates its inputs from a seed, stages them as parquet
tables, runs its operation untraced (``run``) or layer by layer under spans
(``trace``), and checks the output (``check``).  Parameters and the reason
each workload exists live in ``workloads.json`` beside this file.

The traced decompositions call each layer's public function in the order the
engine's own composition calls it (``operators.dedup.minhash_dedup``), with
the barriers that composition has, so each layer's Spark work lands in its
span.  The dedup workload's traced operations also run the stored-state
layers (``plans.pipeline``, ``streaming.incremental``) on the same corpus,
after the workload's span (``StoredState``).
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import logging
import os
import shutil
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.trace import Tracer
from rabbittclust_spark.config import PipelineConfig
from rabbittclust_spark.functions.hashing import shingle_hashes
from rabbittclust_spark.functions.minhash import band_hashes, kperm_signature_from_hashes
from rabbittclust_spark.operators.components import connected_components
from rabbittclust_spark.operators.dedup import exact_dedup, minhash_dedup
from rabbittclust_spark.operators.pairs import build_edges
from rabbittclust_spark.operators.postprocess import assignments_from_components
from rabbittclust_spark.operators.sketch import _spread_for_cpu_kernel, sketch_minhash_bands
from rabbittclust_spark.plans.pipeline import DedupPipeline
from rabbittclust_spark.sources.tables import materialize, materialize_scope
from rabbittclust_spark.streaming.incremental import append_batch

# planted pairs whose cluster mutation rate is at most this must be found
RECALL_MAX_RATE = 0.15
RECALL_MIN = 0.99
KERNEL_SAMPLE_DOCS = 64
# banded LSH with a posting cap below the boilerplate group, so that the
# hot-key star escalation fires
BANDED = PipelineConfig(pair_mode="banded", max_posting=20)
# the stored-state pipeline runs in the production default pair mode
# (probe; append_batch sketches flat): built at a tighter threshold, then
# resumed at the default one, which reuses the exact-dedup and sketch stages
# and recomputes the rest
STORED_BUILD = PipelineConfig(threshold=0.04)
STORED_RESUME = PipelineConfig()
STORED_STAGES = ("exact_groups", "sketches", "edges", "membership", "assignments")
STORED_REUSED = ("exact_groups", "sketches")


class EngineLog(logging.Handler):
    """Collects the engine's own accounting log lines: hot-key escalations
    (operators.pairs) and distributed-CC convergence (operators.components)."""

    LOGGERS = ("rabbittclust_spark.operators.pairs",
               "rabbittclust_spark.operators.components")

    def __init__(self) -> None:
        super().__init__(logging.INFO)
        self.records: list[logging.LogRecord] = []
        for name in self.LOGGERS:
            lg = logging.getLogger(name)
            lg.setLevel(logging.INFO)
            lg.addHandler(self)

    def emit(self, record: logging.LogRecord) -> None:
        self.records.append(record)

    def close(self) -> None:
        for name in self.LOGGERS:
            logging.getLogger(name).removeHandler(self)
        super().close()

    def take(self) -> dict[str, float]:
        """Counts since the last call: hot keys escalated, CC path and
        iterations."""
        hot = iters = distributed = 0
        for r in self.records:
            msg = r.msg if isinstance(r.msg, str) else ""
            if msg.startswith("max_posting=") and "escalated" in str(r.args[-1]):
                hot += int(r.args[2])
            elif msg.startswith("connected_components: converged"):
                distributed = 1
                iters += int(r.args[0])
        self.records.clear()
        return {"hot_keys_escalated": hot, "distributed": distributed,
                "iterations": iters}


# ------------------------------------------------------------------ quality

def _pairs(sizes: pd.Series) -> int:
    s = sizes.to_numpy(dtype=np.int64)
    return int((s * (s - 1) // 2).sum())


def pair_quality(assign: pd.DataFrame, truth: pd.DataFrame) -> dict[str, float]:
    """Pair precision over every predicted same-cluster pair, and recall
    over the planted pairs marked ``recall`` in ``truth``
    (doc_id, truth, recall)."""
    m = assign[["doc_id", "cluster_id"]].merge(truth, on="doc_id")
    pred = _pairs(m.groupby("cluster_id").size())
    hit = _pairs(m.groupby(["cluster_id", "truth"]).size())
    r = m[m["recall"]]
    planted = _pairs(r.groupby("truth").size())
    found = _pairs(r.groupby(["truth", "cluster_id"]).size())
    return {"pair_precision": hit / pred if pred else 1.0,
            "pair_recall": found / planted if planted else 1.0,
            "planted_pairs": planted}


def assignment_failures(assign: pd.DataFrame, expected_ids: np.ndarray) -> list[str]:
    """Every expected doc assigned exactly once, nothing else assigned, and
    every cluster_id the minimum doc_id of its cluster."""
    out = []
    ids = assign["doc_id"].to_numpy()
    if len(ids) != len(np.unique(ids)):
        out.append(f"{len(ids) - len(np.unique(ids))} docs assigned more than once")
    missing = np.setdiff1d(expected_ids, ids)
    extra = np.setdiff1d(ids, expected_ids)
    if len(missing) or len(extra):
        out.append(f"{len(missing)} docs unassigned, {len(extra)} unexpected docs")
    mins = assign.groupby("cluster_id")["doc_id"].min()
    bad = int((mins.index.to_numpy() != mins.to_numpy()).sum())
    if bad:
        out.append(f"{bad} clusters whose cluster_id is not the component minimum")
    return out


def webtext_truth(corpus: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, truth, recall): recall pairs are the planted near-dup and
    exact-dup clusters whose mutation rate is at most RECALL_MAX_RATE."""
    c = corpus
    per = c.groupby("truth_cluster").agg(
        rate=("mutation_rate", "max"),
        plain=("kind", lambda k: bool(k.isin(["seed", "near", "exact"]).all())))
    ok = per.index[(per["rate"] <= RECALL_MAX_RATE) & per["plain"]]
    return pd.DataFrame({"doc_id": c["doc_id"], "truth": c["truth_cluster"],
                         "recall": c["truth_cluster"].isin(ok)
                         & (c["kind"] != "short")})


# ---------------------------------------------------------------- workloads

@dataclasses.dataclass
class Outcome:
    """One operation's result: the final assignments plus layer counts."""
    assign: pd.DataFrame
    counts: dict[str, float] = dataclasses.field(default_factory=dict)


class Workload:
    """Inputs are generated as pandas frames (``generate``), written as
    parquet tables (``stage``) and read back; the operation runs on those.
    ``params`` are the input generator's parameters."""

    table_columns: dict[str, list[str]] = {}

    def __init__(self, spec: dict, work_dir: str):
        self.params = spec["params"]
        self.spec = spec
        self.work_dir = work_dir

    def generate(self, seed: int) -> dict[str, pd.DataFrame]:
        raise NotImplementedError

    def stage(self, spark, data: dict[str, pd.DataFrame]) -> dict:
        tables = {}
        for key, cols in self.table_columns.items():
            path = os.path.join(self.work_dir, "input", key)
            spark.createDataFrame(data[key][cols]).write.mode("overwrite").parquet(path)
            tables[key] = spark.read.parquet(path)
        return tables

    def input_fingerprint(self, data: dict[str, pd.DataFrame]) -> str:
        return "-".join(inputs.frame_fingerprint(data[key], cols)
                        for key, cols in self.table_columns.items())

    def rows(self, data: dict[str, pd.DataFrame]) -> int:
        return sum(len(data[key]) for key in self.table_columns)

    def prepare(self, spark, data, tables) -> None:
        """Once per run, after staging: state the checks compare against."""

    def warm(self, spark, data, tables, traced: bool) -> None:
        """Untimed work that warms the JIT, the Python workers and the plan
        caches for what the run times."""
        self.run(spark, tables)

    def trace_after(self, spark, data, tracer) -> tuple[dict[str, float], list[str]]:
        """Layers a traced operation runs after the workload's own ones,
        outside its span: their counts and the failures of their checks."""
        return {}, []

    def run(self, spark, tables) -> Outcome:
        raise NotImplementedError

    def trace(self, spark, tables, tracer) -> Outcome:
        raise NotImplementedError

    def check(self, data, out: Outcome, engine: dict) -> tuple[list[str], dict]:
        raise NotImplementedError


class BandedDedup(Workload):
    """minhash_dedup in banded pair mode over a webtext corpus whose
    boilerplate group exceeds the posting cap."""

    table_columns = {"docs": ["doc_id", "text"]}
    cfg = BANDED

    def __init__(self, spec, work_dir):
        super().__init__(spec, work_dir)
        self.stored = StoredState(spec["stored_state"], work_dir)

    def generate(self, seed):
        self.seed = seed
        return {"docs": inputs.webtext_corpus(self.params, seed)}

    def warm(self, spark, data, tables, traced):
        self.run(spark, tables)
        if traced and self.stored.tables is None:  # once per run
            self.stored.stage(spark, data["docs"], self.seed)
            self.stored.warm(spark)

    def trace_after(self, spark, data, tracer):
        return self.stored.trace(spark, tracer)

    def run(self, spark, tables):
        with materialize_scope():
            a = minhash_dedup(tables["docs"], self.cfg)["assignments"]
            return Outcome(a.select("doc_id", "cluster_id").toPandas())

    def trace(self, spark, tables, tracer):
        cfg = self.cfg
        base = tables["docs"].select("doc_id", "text")
        with materialize_scope():
            with tracer.span("dedup.exact"):
                exact = materialize(exact_dedup(base), "exact")
            # same plan as minhash_dedup's canonical-doc join
            canon = _spread_for_cpu_kernel(base).join(
                exact.where(F.col("doc_id") == F.col("canonical_id"))
                .select("doc_id"), "doc_id")
            with tracer.span("sketch") as sk_span:
                fused = materialize(sketch_minhash_bands(canon, cfg), "sketches")
                sk = fused.select("doc_id", "len", "n", "sig")
                bands = fused.select("doc_id", "band_keys")
            with tracer.span("pairs") as pairs_span:
                edges = build_edges(sk, cfg, bands=bands)
            # like minhash_dedup: no edges barrier, so connected_components'
            # own input barrier (its first write) runs the verify filter
            with tracer.span("components") as cc_span:
                memb = connected_components(edges)
            with tracer.span("postprocess"):
                canon_assign = assignments_from_components(sk.select("doc_id"), memb)
                assign = (exact.join(canon_assign.withColumnRenamed(
                    "doc_id", "canonical_id"), "canonical_id")
                    .select("doc_id", "cluster_id").toPandas())
        # build_edges writes the candidates, then the verify join's counts
        cand, verified = pairs_span.counts["writes"][-2:]
        n_edges = cc_span.counts["writes"][0]
        counts = {"sketch.docs": sk_span.counts["output_rows"],
                  "pairs.candidates": cand, "pairs.verified": verified,
                  "pairs.edges": n_edges, "pairs.edge_yield": n_edges / max(cand, 1),
                  "components.edges_in": n_edges}
        return Outcome(assign, counts=counts)

    def kernel_us_per_doc(self, data) -> float:
        """The fused sketch kernel's numpy work alone (one shingling pass
        feeding the permutation signature and its band keys), single-threaded
        in the driver on a seeded sample of the corpus, in microseconds per
        document, without the Arrow batches around it."""
        cfg = self.cfg
        docs = data["docs"]
        docs = docs[docs["text"].str.len() >= cfg.min_len]
        texts = docs["text"].sample(min(KERNEL_SAMPLE_DOCS, len(docs)),
                                    random_state=self.seed).tolist()
        t0 = time.perf_counter()
        for t in texts:
            h = shingle_hashes(t, cfg.shingle_k, seed=cfg.hash_seed,
                               lowercase=cfg.lowercase)
            band_hashes(kperm_signature_from_hashes(
                h, cfg.perm_count, cfg.perm_seed), cfg.rows_per_band)
        return (time.perf_counter() - t0) / len(texts) * 1e6

    def groups_collapsed(self, data) -> int:
        """Docs that exact_dedup maps onto an earlier identical doc."""
        docs = data["docs"]
        return len(docs) - docs["text"].nunique()

    def check(self, data, out, engine):
        docs = data["docs"]
        fails, q = webtext_gates(out.assign, docs, self.cfg)
        if not engine["hot_keys_escalated"]:
            fails.append("no hot posting key was escalated (posting cap bypassed)")
        return fails, q


def webtext_gates(assign: pd.DataFrame, docs: pd.DataFrame,
                  cfg: PipelineConfig) -> tuple[list[str], dict]:
    """Every doc of at least cfg.min_len assigned exactly once, cluster_id
    the component minimum, planted-pair recall at least RECALL_MIN."""
    expected = docs.loc[docs["text"].str.len() >= cfg.min_len, "doc_id"].to_numpy()
    fails = assignment_failures(assign, expected)
    q = pair_quality(assign, webtext_truth(docs))
    if q["pair_recall"] < RECALL_MIN:
        fails.append(f"pair_recall {q['pair_recall']:.4f} < {RECALL_MIN}")
    return fails, q


class StoredState:
    """The stored-state layers on a webtext corpus: DedupPipeline.run into a
    fresh root, a resumed run at another threshold, then the held-out docs
    through append_batch in batches, each batch's sketches and assignments
    written as the next state.

    The pipeline's ``sketches`` and ``membership`` hold the canonical doc of
    each exact-duplicate group only, and append_batch assigns only docs that
    have a sketch.  So the state appended to is the canonical-level one, and
    the build's ``exact_groups`` are joined back onto the final state, as
    the pipeline's own ``assignments`` stage does (``expand_exact``).

    ``spec``: the held-out share of the corpus and the number of append
    batches."""

    def __init__(self, spec: dict, work_dir: str):
        self.spec = spec
        self.work_dir = work_dir
        self.tables = None

    def stage(self, spark, corpus: pd.DataFrame, seed: int) -> None:
        """Split the corpus into built and held-out docs and stage both."""
        held = (np.random.default_rng([seed, 11]).random(len(corpus))
                < float(self.spec["held_out"]))
        self.corpus, self.built_docs = corpus, corpus[~held]
        self.input_bytes = float(self.built_docs["text"].str.encode("utf-8").str.len().sum())
        self.tables = {}
        for key, df in (("built", self.built_docs), ("new", corpus[held])):
            path = os.path.join(self.work_dir, "input", f"stored_{key}")
            spark.createDataFrame(df[["doc_id", "text"]]).write.parquet(path)
            self.tables[key] = spark.read.parquet(path)

    @contextlib.contextmanager
    def _fresh_root(self):
        root = os.path.join(self.work_dir, "state", uuid.uuid4().hex[:8])
        try:
            yield root
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def warm(self, spark) -> None:
        """One build and one append: every plan the traced calls run."""
        with self._fresh_root() as root, materialize_scope():
            state = DedupPipeline(spark, STORED_RESUME, root).run(self.tables["built"])
            out = append_batch(state["sketches"], canonical_assignments(state),
                               self.tables["new"], STORED_RESUME)
            expand_exact(state["exact_groups"], out["assignments"]).write.parquet(
                os.path.join(root, "appended"))

    def trace(self, spark, tracer) -> tuple[dict[str, float], list[str]]:
        """Run the calls under spans; returns their counts and the failures
        of the checks on the resumed build and the final state."""
        built_docs, new = self.tables["built"], self.tables["new"]
        with self._fresh_root() as root:
            with tracer.span("plans.pipeline") as build:
                DedupPipeline(spark, STORED_BUILD, root).run(built_docs)
            with tracer.span("plans.pipeline") as resume:
                pipe = DedupPipeline(spark, STORED_RESUME, root)
                state = pipe.run(built_docs)
            built = state["assignments"].select("doc_id", "cluster_id").toPandas()
            manifests = {}
            for st in STORED_STAGES:
                with open(os.path.join(root, st, "_manifest.json")) as f:
                    manifests[st] = json.load(f)
            reused = sum(m["run_id"] != pipe.run_id for m in manifests.values())
            counts = {"plans.pipeline.build_wall_s": build.wall,
                      "plans.pipeline.resume_wall_s": resume.wall,
                      "plans.pipeline.stages_reused": float(reused)}
            stored = 0
            for st, m in manifests.items():
                nbytes = tree_bytes(os.path.join(root, st))
                stored += nbytes
                counts[f"plans.pipeline.{st}.stored_bytes"] = float(nbytes)
                counts[f"plans.pipeline.{st}.manifest_wall_s"] = m["wall_sec"]
            counts["plans.pipeline.stored_bytes_per_input_byte"] = stored / self.input_bytes

            sk = state["sketches"]
            assign = canonical_assignments(state)
            n_batches = int(self.spec["append_batches"])
            batch_s, cands = [], 0.0
            with materialize_scope():
                for i in range(n_batches):
                    with tracer.span("streaming.incremental") as span:
                        out = append_batch(sk, assign,
                                           new.where(F.col("doc_id") % n_batches == i),
                                           STORED_RESUME)
                        sk_path = os.path.join(root, f"sketches_v{i + 1}")
                        as_path = os.path.join(root, f"assignments_v{i + 1}")
                        out["sketches"].write.parquet(sk_path)
                        out["assignments"].write.parquet(as_path)
                        sk = spark.read.parquet(sk_path)
                        assign = spark.read.parquet(as_path)
                    batch_s.append(span.wall)
                    # append_batch writes the new sketches, then the verify
                    # join over every candidate pair
                    cands += span.counts["writes"][1]
            final = expand_exact(state["exact_groups"], assign).toPandas()
        counts["streaming.incremental.candidates"] = cands
        counts["streaming.incremental.append_batch_s_p50"] = float(np.percentile(batch_s, 50))
        counts["streaming.incremental.append_batch_s_p90"] = float(np.percentile(batch_s, 90))

        fails = [f"resumed build: {f}" for f in
                 webtext_gates(built, self.built_docs, STORED_RESUME)[0]]
        fails += [f"after append_batch: {f}" for f in
                  webtext_gates(final, self.corpus, STORED_RESUME)[0]]
        if reused != len(STORED_REUSED):
            fails.append(f"resume reused {reused} stages, expected "
                         f"{len(STORED_REUSED)} ({', '.join(STORED_REUSED)})")
        return counts, fails


def canonical_assignments(state: dict):
    """The build's assignments of the docs it sketched: the canonical doc of
    each exact-duplicate group."""
    return (state["assignments"].select("doc_id", "cluster_id")
            .join(state["sketches"].select("doc_id"), "doc_id", "left_semi"))


def expand_exact(exact_groups, canon_assign):
    """Assignments of every doc from canonical-level ones: each built doc
    takes the cluster of its exact group's canonical doc, and docs the build
    never saw (appended ones) keep their own row."""
    built = (exact_groups
             .join(canon_assign.withColumnRenamed("doc_id", "canonical_id"),
                   "canonical_id")
             .select("doc_id", "cluster_id"))
    added = (canon_assign.select("doc_id", "cluster_id")
             .join(exact_groups.select("doc_id"), "doc_id", "left_anti"))
    return built.unionByName(added)


def tree_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class ComponentsDistributed(Workload):
    """connected_components(edges, driver_cutoff=0) on a seeded edge table."""

    table_columns = {"edges": ["src", "dst"]}

    def generate(self, seed):
        edges, truth = inputs.component_edges(self.params, seed)
        return {"edges": edges, "truth": truth}

    def prepare(self, spark, data, tables):
        # the driver union-find path, computed once: the reference result
        with materialize_scope():
            self.reference = connected_components(tables["edges"]).toPandas()

    def run(self, spark, tables):
        with materialize_scope():
            return Outcome(connected_components(
                tables["edges"], driver_cutoff=0).toPandas())

    def trace(self, spark, tables, tracer):
        with materialize_scope():
            with tracer.span("components") as s:
                memb = connected_components(tables["edges"], driver_cutoff=0).toPandas()
        # the first write is connected_components' own input barrier
        return Outcome(memb, counts={"components.edges_in": s.counts["writes"][0]})

    def check(self, data, out, engine):
        truth = data["truth"]
        fails = assignment_failures(out.assign, truth["doc_id"].to_numpy())
        ref = self.reference.set_index("doc_id")["cluster_id"]
        got = out.assign.set_index("doc_id")["cluster_id"]
        mismatches = int((got.reindex(ref.index) != ref).sum()) + abs(len(got) - len(ref))
        if mismatches:
            fails.append(f"{mismatches} membership mismatches against the driver path")
        if not engine["distributed"]:
            fails.append("the distributed star path did not run")
        q = pair_quality(out.assign, pd.DataFrame({
            "doc_id": truth["doc_id"], "truth": truth["cluster_id"], "recall": True}))
        if q["pair_recall"] < RECALL_MIN:
            fails.append(f"pair_recall {q['pair_recall']:.4f} < {RECALL_MIN}")
        return fails, {**q, "membership_mismatches": mismatches}


KINDS = {"banded_dedup": BandedDedup,
         "connected_components": ComponentsDistributed}
