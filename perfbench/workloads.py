"""The benchmark workloads: seeded inputs, references, timed calls and
correctness checks.

Every workload has the same shape:

* ``build(spark, seed)`` generates the inputs from the seed,
  caches them and returns them with their fingerprints (set-up, timed
  as ``sources.load_s``);
* ``reference(inputs)`` computes the independent expected answer once
  per seed, outside every timed region;
* ``op(inputs, scratch, span)`` is the timed call: it returns only once
  the result is fully materialized (a ``noop`` sink or a cached final
  state); ``scratch`` is a fresh directory, ``span(name)`` a context
  manager the traced run uses to time the benchmark's own sinks;
* ``check(result, ref)`` compares the result with the reference outside
  the timed region and returns a list of error strings (empty = correct).

``op`` also returns ``supersteps`` (Pregel supersteps, plus star rounds
on components_deep); the reference holds ``edges`` and ``vertices``
(pages on pagerank_web), which the throughput metrics divide by.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pregel_rs_spark import algorithms
from pregel_rs_spark.functions.extract import (
    extract_links_py,
    extract_text_bytes,
    extract_text_udf,
    pages_to_edges,
)
from pregel_rs_spark.graphframe import GraphFrame
from pregel_rs_spark.plans.checkpoint import CheckpointStore
from pregel_rs_spark.sources.synth import synth_pages

# Sizes fit one 4-vCPU / 15 GB host with every run (set-up, cold call,
# timed loop) well inside the benchmark's per-run time budget.
WEB_PAGES = 4_000
LINK_FACTOR = 12  # power-law out-degree, mean ~39 links per page
DEEP_PATHS = 1_000
DEEP_PATH_LEN = 8  # diameter 7 -> eight light supersteps
# The relative order of the ids along every path: the minimum at one end,
# so the minimum label crosses all seven hops, then alternating high and
# low.  With random ids the work depended on the seed (4 or 5 star rounds,
# the slowest of 1,000 random orders); with one order for every path and
# seed it is 8 label supersteps and 4 star rounds on all seeds.
DEEP_ORDER = (0, 7, 1, 6, 2, 5, 3, 4)
assert sorted(DEEP_ORDER) == list(range(DEEP_PATH_LEN)) and DEEP_PATH_LEN <= 8
DAMPING = 0.85
TOL = 1e-6


def fingerprint(df: DataFrame) -> list[int]:
    """``[rows, bit_xor(xxhash64(row))]`` of a frame: order-free and O(1)
    to compare, so a change to the generator shows as a new fingerprint."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({', '.join(df.columns)}))").alias("h"),
    ).collect()[0]
    return [int(row["n"]), int(row["h"] or 0)]


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Inputs:
    frames: dict[str, DataFrame]
    fingerprints: dict[str, list[int]]

    def release(self) -> None:
        for df in self.frames.values():
            df.unpersist()


@dataclass
class Outcome:
    supersteps: int
    result: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)


# --------------------------------------------------------------------------
# pagerank_web: pages -> extracted link graph -> PageRank to 1e-6
# --------------------------------------------------------------------------

def _power_iteration(src: np.ndarray, dst: np.ndarray, n: int):
    """NumPy PageRank with the engine's start, update and stop rule:
    uniform 1/n, rank' = d * (msgs + dangling mass / n) + (1 - d) / n,
    stop at max|rank' - rank| <= tol."""
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    safe_deg = np.where(dangling, 1.0, out_deg)
    rank = np.full(n, 1.0 / n)
    steps = 0
    while steps < 100:
        steps += 1
        msgs = np.bincount(dst, weights=rank[src] / safe_deg[src], minlength=n)
        nxt = DAMPING * (msgs + rank[dangling].sum() / n) + (1.0 - DAMPING) / n
        delta = np.abs(nxt - rank).max()
        rank = nxt
        if delta <= TOL:
            break
    return rank, steps


class PagerankWeb:
    """The web pipeline: link and text extraction over the seeded pages
    (the Arrow/Python UDF boundary), then PageRank to 1e-6 over the
    extracted power-law graph (a few heavy supersteps, so the Pregel data
    plane and the edge cache dominate)."""

    name = "pagerank_web"

    def build(self, spark, seed: int) -> Inputs:
        pages = synth_pages(
            spark, WEB_PAGES, seed, link_factor=LINK_FACTOR
        ).persist()
        return Inputs({"pages": pages}, {"pages": fingerprint(pages)})

    def reference(self, inputs: Inputs) -> dict:
        pages = inputs.frames["pages"]
        pdf = pages.select(
            "url", "html", "text", F.xxhash64("url").alias("id")
        ).toPandas()
        index = {u: i for i, u in enumerate(pdf["url"])}
        src, dst = [], []
        raw_links = 0
        text_errors = 0
        for url, html, text in zip(pdf["url"], pdf["html"], pdf["text"]):
            html = bytes(html)
            links = extract_links_py(html, url)
            raw_links += len(links)
            for link in links:
                if link != url and link in index:
                    src.append(url)
                    dst.append(link)
            want = hashlib.sha256(extract_text_bytes(html).encode()).digest()
            if hashlib.sha256(text.encode()).digest() != want:
                text_errors += 1
        ref_edges = pages.sparkSession.createDataFrame(
            pd.DataFrame({"src_url": src, "dst_url": dst}),
            "src_url string, dst_url string",
        )
        # the graph's vertices are the edge endpoints (GraphFrame.from_edges)
        pairs = np.unique(
            np.array([[index[a], index[b]] for a, b in zip(src, dst)]), axis=0)
        nodes, inv = np.unique(pairs, return_inverse=True)
        inv = inv.reshape(pairs.shape)
        rank, steps = _power_iteration(inv[:, 0], inv[:, 1], len(nodes))
        ids = pdf["id"].to_numpy(np.int64)[nodes]
        order = np.argsort(ids)
        fp = fingerprint(ref_edges)
        return {
            "edges_fingerprint": fp,
            "edges": len(pairs),
            "vertices": len(pdf),
            "raw_links": raw_links,
            "stored_text_errors": text_errors,
            "ids": ids[order],
            "rank": rank[order],
            "supersteps": steps,
        }

    def op(self, inputs: Inputs, scratch: str, span) -> Outcome:
        pages = inputs.frames["pages"]
        links_obs = Observation("links")
        edges = pages_to_edges(pages).observe(
            links_obs,
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(src_url, dst_url))").alias("h"),
        ).select("subject", "object").distinct().persist()
        with span("extract.links"):
            edges.count()
        text_obs = Observation("text")
        text = pages.select(
            F.sha2(extract_text_udf(F.col("html")), 256).alias("got"),
            F.sha2(F.col("text"), 256).alias("want"),
        ).observe(
            text_obs,
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("got") != F.col("want")).cast("long")).alias("bad"),
        )
        with span("extract.text"):
            _noop(text)
        ranks = algorithms.pagerank(
            GraphFrame.from_edges(edges), damping=DAMPING, tol=TOL)
        _noop(ranks)
        edges.unpersist()
        links, texts = links_obs.get, text_obs.get
        steps = len(ranks.pregel_metrics)
        return Outcome(
            steps,
            {"ranks": ranks,
             "edges": [int(links["n"]), int(links["h"] or 0)],
             "text_rows": int(texts["n"]), "text_bad": int(texts["bad"] or 0)},
            {"supersteps": steps, "edges_out": int(links["n"])},
        )

    def check(self, out: Outcome, ref: dict) -> list[str]:
        errors = []
        if ref["stored_text_errors"]:
            errors.append(
                f"extract: stored text differs from extract_text_bytes on "
                f"{ref['stored_text_errors']} pages"
            )
        if out.result["edges"] != ref["edges_fingerprint"]:
            errors.append(
                f"extract: edges fingerprint {out.result['edges']} != "
                f"extract_links_py reference {ref['edges_fingerprint']}"
            )
        if out.result["text_rows"] != ref["vertices"] or out.result["text_bad"]:
            errors.append(
                f"extract: {out.result['text_bad']} of "
                f"{out.result['text_rows']} re-extracted texts differ "
                f"(sha256) from the stored text column"
            )
        pdf = out.result["ranks"].select("vertex_id", "rank").toPandas()
        pdf = pdf.sort_values("vertex_id")
        if not np.array_equal(pdf["vertex_id"].to_numpy(np.int64), ref["ids"]):
            errors.append(
                f"pagerank: {len(pdf)} vertices, not the reference's "
                f"{len(ref['ids'])} edge endpoints")
            return errors
        got = pdf["rank"].to_numpy(np.float64)
        if not np.allclose(got, ref["rank"], rtol=0.0, atol=TOL):
            err = float(np.abs(got - ref["rank"]).max())
            errors.append(f"pagerank: max |rank - reference| = {err:.3g} > {TOL}")
        return errors


# --------------------------------------------------------------------------
# components_deep: many light supersteps on long disjoint paths
# --------------------------------------------------------------------------

class ComponentsDeep:
    """Label and star connected components on disjoint paths: many light
    supersteps, so per-superstep fixed cost and checkpoints dominate."""

    name = "components_deep"

    def build(self, spark, seed: int) -> Inputs:
        pos = F.col("id")
        order = F.array(*[F.lit(r) for r in DEEP_ORDER])

        def vertex(p):
            # a seeded random id per path, its low 3 bits replaced by the
            # vertex's rank in DEEP_ORDER
            path = F.floor(p / DEEP_PATH_LEN)
            rank = F.element_at(order, (p % DEEP_PATH_LEN + 1).cast("int"))
            return (F.xxhash64(F.lit(seed), path).bitwiseAND(F.lit(~7))
                    .bitwiseOR(rank.cast("long")))

        edges = (
            spark.range(0, DEEP_PATHS * DEEP_PATH_LEN)
            .filter(pos % DEEP_PATH_LEN != DEEP_PATH_LEN - 1)
            .select(vertex(pos).alias("subject"), vertex(pos + 1).alias("object"))
            .persist()
        )
        return Inputs({"edges": edges}, {"edges": fingerprint(edges)})

    def reference(self, inputs: Inputs) -> dict:
        pdf = inputs.frames["edges"].toPandas()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf["subject"].tolist(), pdf["object"].tolist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # keep the smaller id as the root: component = min id
                parent[max(ra, rb)] = min(ra, rb)
        comp = {v: find(v) for v in parent}
        return {"component": comp, "edges": len(pdf), "vertices": len(comp)}

    def op(self, inputs: Inputs, scratch: str, span) -> Outcome:
        g = GraphFrame.from_edges(inputs.frames["edges"])
        store = CheckpointStore(g.vertices.sparkSession, scratch)
        label = algorithms.connected_components(g, checkpoint_store=store)
        _noop(label)
        star = algorithms.connected_components(g, method="star")
        _noop(star)
        manifests = store.manifests()
        label_steps = manifests[-1]["superstep"] if manifests else 0
        counters = {
            "supersteps": label_steps,
            "star_rounds": star.cc_rounds,
            "checkpoint_writes": len(manifests),
        }
        return Outcome(label_steps + star.cc_rounds,
                       {"label": label, "star": star}, counters)

    def check(self, out: Outcome, ref: dict) -> list[str]:
        errors = []
        want = ref["component"]
        got = {}
        for key in ("label", "star"):
            rows = out.result[key].select("vertex_id", "component").collect()
            got[key] = {int(r[0]): int(r[1]) for r in rows}
            if got[key] != want:
                bad = sum(1 for v, c in want.items() if got[key].get(v) != c)
                errors.append(
                    f"components[{key}]: {bad} of {len(want)} vertices differ "
                    f"from union-find ({len(got[key])} vertices returned)"
                )
        if got["label"] != got["star"]:
            errors.append("components: label result != star result")
        return errors


WORKLOADS = {w.name: w for w in (PagerankWeb(), ComponentsDeep())}
