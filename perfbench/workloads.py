"""The two closed-loop workloads.

Each workload is driven by one client (the driver thread): an iteration
starts only after the previous one finished.  Every timed output goes
through the ``noop`` sink; checks against the oracles run after the
timed calls and are not timed.  No two iterations hand Spark the same
plan: graph_maintain's inputs change every batch, and corpus_dedup reads
its fixed table through an iteration-numbered predicate that keeps every
row.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import oracles
from harness import noop

K = 10

# Defining physical-plan nodes of each timed noop-sink output.  A timing
# whose plan lost one of these did not run its operator's real work.
PLAN_NODES = {
    "pages.read_extract": ("FileScan parquet", "regexp_extract"),
    "knn.build": ("FlatMapCoGroupsInPandas", "MapInPandas"),
    "knn.query": ("FlatMapCoGroupsInPandas", "MapInPandas"),
    "range.join": ("Sort [qid", "Generate"),
    "rknn.query": ("Sort [qid", "InMemoryTableScan"),
    "text.stats": ("ArrowEvalPython",),
    "dedup.minhash": ("ArrowEvalPython",),
    "dedup.components": ("LeftAnti",),
    "dedup.ngram": ("MapInPandas",),
    "dedup.decontam": ("MapInPandas", "HashAggregate"),
    "ann.near_dup": ("ArrowEvalPython",),
    "sampling.token_budget": ("InMemoryTableScan", "Window", "Union"),
}

# Set-up spans of a function the iterations also call carry a ``build.``
# prefix, so a bulk call and a per-batch call are never pooled in one figure.
SPANS = [
    "pages.read_extract",
    "build.grid.extent",
    "knn.build",
    "build.checkpoint.write",
    "grid.extent",
    "knn.query",
    "batches.apply",
    "checkpoint.write",
    "range.join",
    "rknn.stats",
    "rknn.query",
    "text.stats",
    "dedup.minhash",
    "dedup.components",
    "dedup.ngram",
    "dedup.decontam",
    "ann.near_dup",
    "sampling.token_budget",
]


def _write_parts(table: pa.Table, path: Path, parts: int) -> None:
    path.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:03d}.parquet")


# ---------------------------------------------------------------------------


class GraphMaintain:
    """The graph lifecycle.  Set-up is the bulk build: pages parquet ->
    points_from_pages -> grid_and_extent -> build_knn_graph(k=10) -> base
    checkpoint, on clustered density-skewed geotags.  Each iteration folds
    one micro-batch of equal inserts and deletes (apply_batch +
    BatchCheckpointer, chained the way apply_ops_batches chains them), then
    runs one knn, range and reverse-kNN query batch on the new state."""

    name = "graph_maintain"
    UNIT_OPS = ("batches.apply", "checkpoint.write")  # n = ops folded per batch
    NAMED = {
        "apply_p50_s": UNIT_OPS,
        "knn_query_p50_s": ("knn.query",),
        "range_query_p50_s": ("range.join",),
        "rknn_query_p50_s": ("rknn.stats", "rknn.query"),
    }
    N_PAGES = 10_000
    BATCH = 100  # inserts, and as many deletes, per micro-batch
    N_QUERIES = 256
    N_SAMPLE = 48
    RADIUS = (0.05, 0.25)  # degrees: 0 to a few hundred results per query

    def generate(self, seed: int, work: Path, nproc: int) -> dict:
        self.seed = seed
        pages = inputs.pages_table(np.random.default_rng([seed, 0]), self.N_PAGES)
        self.pages_path = work / "pages"
        _write_parts(pages.table, self.pages_path, 2 * nproc)
        self.xy, self.ids, self.bg = pages.xy, pages.ids, pages.background
        self.ckpt_dir = work / "ckpt"
        self.next_id = int(self.ids.max()) + 1
        self.n = 2 * self.BATCH
        return {
            "pages": self.N_PAGES,
            "geotags": "24 zipf-weighted gaussian clusters + 1/12 uniform background",
            "k": K,
            "batch_inserts": self.BATCH,
            "batch_deletes": self.BATCH,
            "queries_per_batch": self.N_QUERIES,
        }

    def setup(self, run: "Run", spark) -> dict:
        """Bulk-build the base index; returns the build's timings.  Its
        checks run afterwards, in ``setup_checks``, off the set-up clock."""
        from pyspark.storagelevel import StorageLevel

        from rindex_spark import EngineConfig, build_knn_graph, grid_and_extent
        from rindex_spark.plans.batches import IndexState
        from rindex_spark.plans.checkpoint import BatchCheckpointer
        from rindex_spark.sources.pages import points_from_pages, read_pages

        self.spark = spark
        shutil.rmtree(self.ckpt_dir, ignore_errors=True)
        self.ckpt = BatchCheckpointer(str(self.ckpt_dir))
        t = {}
        with run.op("pages.read_extract", t):
            pts = points_from_pages(read_pages(spark, str(self.pages_path)))
            pts = pts.persist(StorageLevel.MEMORY_ONLY)
            noop(pts)
        with run.op("build.grid.extent", t):
            spec, ext = grid_and_extent(pts, EngineConfig(k=K))
        with run.op("knn.build", t) as rec:
            built = build_knn_graph(pts, K, spec=spec, extent=ext)
            noop(built)
        with run.op("build.checkpoint.write", t):
            p, g = self.ckpt.write(spark, 0, pts, built, "base")
        pts.unpersist()
        self.state = IndexState(points=p, graph=g, k=K)
        self._built = (pts, built, rec)
        build = sum(t[k] for k in ("pages.read_extract", "build.grid.extent", "knn.build"))
        return {**t, "build_points_per_s": self.N_PAGES / build}

    def setup_checks(self, run: "Run") -> None:
        pts, built, rec = self._built
        run.plan("pages.read_extract", pts)
        run.plan("knn.build", built)
        g = self.state.graph
        n_rows = g.count()
        run.check("knn.build", n_rows == self.N_PAGES * K, f"{n_rows} graph rows, want {self.N_PAGES * K}")
        if rec is not None:
            rec["useful"] = n_rows
        pick = np.random.default_rng([self.seed, 1]).choice(len(self.ids), self.N_SAMPLE, replace=False)
        self._check_graph(run, "knn.build", g, self.ids[pick].tolist(), self.xy[pick])

    def _frame(self, cols: dict, schema: str):
        return self.spark.createDataFrame(pa.table(cols).to_pandas(), schema)

    def _check_graph(self, run: "Run", name: str, g, sample: list[int], sample_xy) -> None:
        from pyspark.sql import functions as F

        want = oracles.knn(self.xy, self.ids, sample_xy, K)
        got: dict[int, list] = {}
        for r in sorted(g.filter(F.col("src").isin(sample)).collect(), key=lambda r: (r["src"], r["rank"])):
            got.setdefault(r["src"], []).append((r["dist"], r["dst"]))
        bad = [s for s, w in zip(sample, want) if not oracles.same_neighbors(got.get(s, []), w)]
        run.check(name, not bad, f"graph rows differ from brute force for ids {bad[:5]}")

    def iteration(self, run: "Run", b: int) -> None:
        from rindex_spark import (
            EngineConfig,
            grid_and_extent,
            knn_for_queries,
            range_join,
            reverse_knn,
            rknn_stats,
        )
        from rindex_spark.plans.batches import IndexState, apply_batch
        from rindex_spark.plans.checkpoint import ops_fingerprint

        spark, m = self.spark, self.BATCH
        rng = np.random.default_rng([self.seed, 2, b])
        ins_xy, ins_bg = inputs.clustered_points(rng, m)
        ins_ids = np.arange(self.next_id, self.next_id + m, dtype=np.int64)
        # deletes take background and cluster points in the inserts'
        # proportion, so every batch does a like amount of repair work
        n_bg = int(ins_bg.sum())
        del_pos = np.concatenate(
            [
                rng.choice(np.flatnonzero(self.bg), n_bg, replace=False),
                rng.choice(np.flatnonzero(~self.bg), m - n_bg, replace=False),
            ]
        )
        del_ids = self.ids[del_pos]
        q, _ = inputs.clustered_points(rng, self.N_QUERIES)
        q_rk, _ = inputs.clustered_points(rng, self.N_QUERIES)
        radius = rng.uniform(*self.RADIUS, self.N_QUERIES)
        qids = np.arange(self.N_QUERIES, dtype=np.int64)
        ins_df = self._frame({"id": ins_ids, "x": ins_xy[:, 0], "y": ins_xy[:, 1]}, "id long, x double, y double")
        del_df = self._frame({"id": del_ids}, "id long")
        q_df = self._frame({"qid": qids, "x": q[:, 0], "y": q[:, 1]}, "qid long, x double, y double")
        r_df = self._frame(
            {"qid": qids, "x": q[:, 0], "y": q[:, 1], "radius": radius},
            "qid long, x double, y double, radius double",
        )
        rk_df = self._frame({"qid": qids, "x": q_rk[:, 0], "y": q_rk[:, 1]}, "qid long, x double, y double")
        ins_rows = [(int(i), float(x), float(y)) for i, (x, y) in zip(ins_ids, ins_xy)]
        fp = ops_fingerprint(ins_rows, [(int(d),) for d in del_ids])

        with run.op("batches.apply"):
            st = apply_batch(self.state, ins_df, del_df, n_inserts=m, n_deletes=m, materialize=False)
        with run.op("checkpoint.write"):
            pts, g = self.ckpt.write(spark, b, st.points, st.graph, fp, extra={"n_inserts": m, "n_deletes": m})
        self.state = IndexState(points=pts, graph=g, k=K)
        with run.op("grid.extent"):
            spec, ext = grid_and_extent(pts, EngineConfig(k=K))
        with run.op("knn.query"):
            kq = knn_for_queries(pts, q_df, K, spec=spec, extent=ext)
            noop(kq)
        run.plan("knn.query", kq)
        with run.op("range.join") as rrec:
            rq = range_join(pts, r_df, spec=spec, extent=ext)
            noop(rq)
        run.plan("range.join", rq)
        with run.op("rknn.stats"):
            handle = rknn_stats(pts, g, K, spec)
        with run.op("rknn.query"):
            rk = reverse_knn(pts, g, rk_df, K, spec, stats=handle)
            noop(rk)
        run.plan("rknn.query", rk)

        # --- checks against the brute-force mirror of the point set
        keep = np.ones(len(self.ids), bool)
        keep[del_pos] = False
        del_xy = self.xy[del_pos]
        self.ids = np.concatenate([self.ids[keep], ins_ids])
        self.xy = np.vstack([self.xy[keep], ins_xy])
        self.bg = np.concatenate([self.bg[keep], ins_bg])
        self.next_id += m

        # repaired graph rows: new points, points that were next to a
        # deleted one, and a random draw of the rest
        third = self.N_SAMPLE // 3
        near = [row[0][1] for row in oracles.knn(self.xy, self.ids, del_xy[:third], 1)]
        sample = set(ins_ids[:third].tolist()) | set(near)
        sample |= set(rng.choice(self.ids, third, replace=False).tolist())
        sample = sorted(sample)
        order = np.argsort(self.ids)
        at = order[np.searchsorted(self.ids, sample, sorter=order)]
        self._check_graph(run, "batches.apply", g, sample, self.xy[at])

        self._check_queries(run, "knn.query", kq.collect(), oracles.knn(self.xy, self.ids, q, K))
        rq_rows = rq.collect()
        keys = [(r["qid"], r["dist"], r["id"]) for r in rq_rows]
        run.check("range.join", keys == sorted(keys), "result not sorted by (qid, dist, id)")
        self._check_queries(run, "range.join", rq_rows, oracles.within(self.xy, self.ids, q, radius))
        if rrec is not None:
            rrec["useful"] = len(rq_rows)
        rk_rows = rk.collect()
        keys = [(r["qid"], r["dist"], r["id"]) for r in rk_rows]
        run.check("rknn.query", keys == sorted(keys), "result not sorted by (qid, dist, id)")
        kd = oracles.kth_dist_all(self.xy, K)
        self._check_queries(run, "rknn.query", rk_rows, oracles.reverse_knn(self.xy, self.ids, kd, q_rk))
        handle["stats"].unpersist()
        shutil.rmtree(self.ckpt.path(b - 1), ignore_errors=True)

    def _check_queries(self, run: "Run", name: str, rows, want: list[list[tuple]]) -> None:
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(r["qid"], []).append((r["dist"], r["id"]))
        bad = [
            qid
            for qid, w in enumerate(want)
            if not oracles.same_neighbors(sorted(got.get(qid, [])), w)
        ]
        run.check(name, not bad, f"differs from brute force for qids {bad[:5]}")


# ---------------------------------------------------------------------------


class CorpusDedup:
    """Training-data side over a docs table: text stats + lang_id +
    fingerprint, MinHash-LSH pairs, dedup_canonical (connected components),
    n-gram Jaccard with a max_df guard, benchmark contamination, embedding
    near-dups and token-budget sampling."""

    name = "corpus_dedup"
    UNIT_OPS = (
        "text.stats",
        "dedup.minhash",
        "dedup.components",
        "dedup.ngram",
        "dedup.decontam",
        "ann.near_dup",
        "sampling.token_budget",
    )
    NAMED = {"corpus_docs_per_s": UNIT_OPS}
    N_BASE = 5000
    N_CLUSTERS = 200
    N_BENCH = 20
    N_CONTAMINATED = 150
    N_TWINS = 150
    THRESHOLD = 0.5
    MAX_DF = 100
    GRAM = 8  # contamination n-gram length
    COSINE = 0.95

    def generate(self, seed: int, work: Path, nproc: int) -> dict:
        c = inputs.corpus(
            np.random.default_rng([seed, 0]),
            self.N_BASE, self.N_CLUSTERS, self.N_BENCH, self.N_CONTAMINATED, self.N_TWINS,
        )
        self.docs_path, self.bench_path = work / "docs", work / "bench"
        _write_parts(c.docs, self.docs_path, 1)
        _write_parts(c.bench, self.bench_path, 1)
        self.c = c
        self.n = c.docs.num_rows
        # the planted near-dup pairs and their exact Jaccard
        self.planted = {
            (a, b): oracles.jaccard(c.texts[a], c.texts[b])
            for cl in c.clusters
            for i, a in enumerate(sorted(cl))
            for b in sorted(cl)[i + 1 :]
        }
        self.want_hits = oracles.contamination_hits(c.texts, c.bench.column("text").to_pylist(), self.GRAM)
        self.want_stats = {d: oracles.text_stats(t) for d, t in c.texts.items()}
        self.budget = sum(s[1] for s in self.want_stats.values()) * 2 // 5
        self.want_kept = oracles.token_budget(
            [(d, s[1], s[2]) for d, s in self.want_stats.items()], self.budget
        )
        return {
            "docs": self.n,
            "planted_clusters": self.N_CLUSTERS,
            "planted_twins": self.N_TWINS,
            "contaminated_docs": self.N_CONTAMINATED,
            "bench_passages": self.N_BENCH,
            "boilerplate_share": 0.25,
            "embedding_dim": inputs.EMB_DIM,
            "token_budget": self.budget,
        }

    def setup(self, run: "Run", spark) -> dict:
        self.spark = spark
        return {}

    def setup_checks(self, run: "Run") -> None:
        pass

    def iteration(self, run: "Run", i: int) -> None:
        from pyspark.sql import functions as F
        from pyspark.storagelevel import StorageLevel

        from rindex_spark import (
            benchmark_contamination,
            dedup_canonical,
            embedding_near_dup,
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
            sample_to_token_budget,
        )
        from rindex_spark.functions.text import fingerprint, lang_id, with_text_stats

        spark = self.spark
        docs = spark.read.parquet(str(self.docs_path)).filter(F.col("doc_id") >= -i)
        bench = spark.read.parquet(str(self.bench_path))

        with run.op("text.stats"):
            st = (
                with_text_stats(docs.select("doc_id", "text"))
                .withColumn("lang", lang_id("text"))
                .withColumn("fp", fingerprint(F.col("text")))
                .persist(StorageLevel.MEMORY_ONLY)
            )
            noop(st)
        run.plan("text.stats", st)
        with run.op("dedup.minhash"):
            mp = minhash_lsh_pairs(docs, threshold=self.THRESHOLD).persist(StorageLevel.MEMORY_ONLY)
            noop(mp)
        run.plan("dedup.minhash", mp)
        with run.op("dedup.components"):
            kept = dedup_canonical(
                docs.select("doc_id"),
                mp.select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")),
            )
            noop(kept)
        run.plan("dedup.components", kept)
        with run.op("dedup.ngram") as ngrec:
            ng = ngram_jaccard_pairs(docs, threshold=self.THRESHOLD, max_df=self.MAX_DF)
            noop(ng)
        run.plan("dedup.ngram", ng)
        with run.op("dedup.decontam"):
            dc = benchmark_contamination(docs, bench, n=self.GRAM)
            noop(dc)
        run.plan("dedup.decontam", dc)
        with run.op("ann.near_dup"):
            nd = embedding_near_dup(
                docs, threshold=self.COSINE, dim=inputs.EMB_DIM, vec_col="embedding", id_col="doc_id"
            )
            noop(nd)
        run.plan("ann.near_dup", nd)
        with run.op("sampling.token_budget"):
            sb = sample_to_token_budget(st.select("doc_id", "n_tokens", "quality_score"), budget=self.budget)
            noop(sb)
        run.plan("sampling.token_budget", sb)
        # every iteration computes the same outputs from the same rows, and
        # re-running the pipeline to collect them costs a third of an
        # iteration, so the output oracles run on the first one only
        if i > 1:
            if ngrec is not None:
                ngrec["useful"] = self.n_ngram_pairs
            mp.unpersist()
            st.unpersist()
            return

        # --- checks
        c = self.c
        stats = st.select("doc_id", "n_chars_calc", "n_tokens", "quality_score", "fp").collect()
        bad = [
            r["doc_id"]
            for r in stats
            if (r["n_chars_calc"], r["n_tokens"], r["quality_score"]) != self.want_stats[r["doc_id"]]
            or r["fp"] != oracles.fingerprint(c.texts[r["doc_id"]])
        ]
        run.check("text.stats", len(stats) == self.n and not bad, f"{len(stats)} rows, wrong for {bad[:5]}")

        pairs = [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in mp.collect()]
        self._check_pairs(run, "dedup.minhash", pairs, recall_floor=0.9, min_j=0.7)
        comp = oracles.components([(a, b) for a, b, _ in pairs])
        want_kept = set(c.texts) - {d for d, root in comp.items() if d != root}
        got_kept = {r["doc_id"] for r in kept.collect()}
        run.check("dedup.components", got_kept == want_kept, f"{len(got_kept ^ want_kept)} docs kept wrongly")
        split = [cl for cl in c.clusters if len({comp.get(d, d) for d in cl}) != 1]
        run.check("dedup.components", not split, f"{len(split)} planted clusters split")

        ng_pairs = [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in ng.collect()]
        self._check_pairs(run, "dedup.ngram", ng_pairs, recall_floor=1.0, min_j=self.THRESHOLD)
        self.n_ngram_pairs = len(ng_pairs)
        if ngrec is not None:
            ngrec["useful"] = self.n_ngram_pairs

        hits = {r["doc_id"]: r["n_hits"] for r in dc.collect()}
        run.check("dedup.decontam", hits == self.want_hits, f"{len(set(hits.items()) ^ set(self.want_hits.items()))} docs differ")

        near = [(r["id_a"], r["id_b"], r["score"]) for r in nd.collect()]
        wrong = [(a, b) for a, b, s in near if s < self.COSINE or abs(s - oracles.cosine(c.emb[a], c.emb[b])) > 1e-9]
        found = {(a, b) for a, b, _ in near}
        recall = sum(t in found for t in c.twins) / len(c.twins)
        run.check("ann.near_dup", not wrong and recall >= 0.9, f"{len(wrong)} wrong scores, twin recall {recall:.3f}")

        got_sb = {r["doc_id"] for r in sb.collect()}
        run.check("sampling.token_budget", got_sb == self.want_kept, f"{len(got_sb ^ self.want_kept)} docs differ")
        mp.unpersist()
        st.unpersist()

    def _check_pairs(self, run: "Run", name: str, pairs, recall_floor: float, min_j: float) -> None:
        """Reported Jaccard exact (recomputed for up to 300 pairs) and recall of
        the planted pairs whose true Jaccard is at least ``min_j``."""
        texts = self.c.texts
        wrong = [
            (a, b)
            for a, b, j in pairs[:300]
            if j < self.THRESHOLD or abs(j - oracles.jaccard(texts[a], texts[b])) > 1e-12
        ]
        found = {(a, b) for a, b, _ in pairs}
        due = [p for p, j in self.planted.items() if j >= min_j]
        recall = sum(p in found for p in due) / len(due)
        run.check(name, not wrong and recall >= recall_floor, f"{len(wrong)} wrong pairs, planted recall {recall:.3f}")


WORKLOADS = {w.name: w for w in (GraphMaintain, CorpusDedup)}
