"""``corpus_curation``: the corpus operator path, few driver actions and
heavy per-row work.

One operation curates a seeded corpus with ``plans.corpus_pipeline.curate``
(text statistics, quality gate, exact dedup, MinHash-LSH near dedup) and
then answers a seeded batch of ANN queries with
``operators.similarity.knn_ivf``. Checked: the audit counts hold the
input, every removed document is a planted copy, at least 80 % of the
planted near-duplicates are removed, every query gets ten neighbours, and
the batch's mean recall at 10 against ``knn_bruteforce`` (computed once
during warm-up) is at least 0.8.

A traced operation replays ``curate`` stage by stage with the same public
functions, persisting each stage's output at its boundary.

A traced ``store_maintenance`` run builds a smaller instance once, so the
corpus layers are measured on a listed workload too.
"""

from __future__ import annotations

import random
import time

import gen_corpus
import pyarrow as pa
import pyarrow.parquet as pq
from harness import Op, Workload, median, span_p50

from superstore_data_pipeline_analytics_dashboard__spark.operators import dedup as DD
from superstore_data_pipeline_analytics_dashboard__spark.operators import (
    similarity as S,
)
from superstore_data_pipeline_analytics_dashboard__spark.plans import corpus_pipeline as C

N_DOCS = 2_000
NEAR_DUP_SHARE = 0.1
N_EXACT = 8
N_VECTORS = 2_000
N_QUERIES = 100
QUERY_BATCH = 20
K = 10
MIN_NEAR_DUP_RECALL = 0.8
MIN_ANN_RECALL = 0.8


class CorpusCuration(Workload):
    kinds = ("curate",)

    def __init__(self, ctx, n_docs: int = N_DOCS, n_vectors: int = N_VECTORS,
                 n_queries: int = N_QUERIES):
        super().__init__(ctx)
        self.rng = random.Random(ctx.seed * 104_729 + 3)
        self.n_docs, self.n_vectors, self.n_queries = n_docs, n_vectors, n_queries

    def prepare(self) -> None:
        work = self.ctx.work
        work.mkdir(parents=True, exist_ok=True)
        rows, self.planted = gen_corpus.documents(
            self.ctx.seed, self.n_docs, NEAR_DUP_SHARE, N_EXACT)
        texts = {}
        self.exact = set()
        for doc_id, text, *_ in rows:
            if text in texts:
                self.exact.add(doc_id)
            texts.setdefault(text, doc_id)
        cols = list(zip(*rows))
        pq.write_table(pa.table({
            "doc_id": pa.array(cols[0], pa.int64()), "text": cols[1],
            "lang": cols[2], "source": cols[3],
            "n_chars": pa.array(cols[4], pa.int64()),
        }), work / "documents.parquet")
        vectors, queries = gen_corpus.embeddings(
            self.ctx.seed, self.n_vectors, self.n_queries)
        for name, vs in (("embeddings", vectors), ("queries", queries)):
            ids, embs, labels = zip(*vs)
            pq.write_table(pa.table({
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(embs, pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }), work / f"{name}.parquet")

    def setup(self) -> None:
        spark = self.ctx.spark
        spark.catalog.clearCache()
        read = {n: spark.read.parquet(str(self.ctx.work / f"{n}.parquet")).cache()
                for n in ("documents", "embeddings", "queries")}
        for df in read.values():
            df.count()
        self.docs, self.vectors, self.queries = (
            read["documents"], read["embeddings"], read["queries"])

    def ground_truth(self) -> None:
        """Exact top-10 of every query, the reference for ANN recall."""
        exact = S.knn_bruteforce(self.vectors, self.queries, K).collect()
        self.truth: dict[int, set] = {}
        for r in exact:
            self.truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def warm_up(self) -> None:
        self.ground_truth()
        self._curate()
        self._ann(sorted(self.truth)[:QUERY_BATCH])

    # ---------------------------------------------------------------- ops

    def _curate(self):
        tr = self.ctx.tracer
        if not tr.enabled:
            out = C.curate(self.docs)
            return out["audit"].collect(), out["curated"].select("doc_id").collect()
        with tr.span("corpus.text_stats"):
            annotated = tr.boundary(C.with_text_stats(DD._parallelize(self.docs)))
        with tr.span("corpus.quality_gate"):
            gated = tr.boundary(C.quality_gate(annotated))
        with tr.span("corpus.exact_dedup"):
            exact = tr.boundary(C.drop_exact_dups(gated))
        with tr.span("corpus.near_dedup"):
            curated = tr.boundary(C.drop_near_dups(exact))
        self._exact_stage = exact
        audit = [{"stage": s, "n_docs": df.count()} for s, df in (
            ("input", self.docs), ("after_quality_gate", gated),
            ("after_exact_dedup", exact), ("after_near_dedup", curated))]
        return audit, curated.select("doc_id").collect()

    def _ann(self, qids):
        batch = self.queries.filter(self.queries["vec_id"].isin(qids))
        with self.ctx.tracer.span("similarity.knn_ivf"):
            got = S.knn_ivf(self.vectors, batch, K).collect()
        return got

    def op(self, i: int) -> Op:
        qids = self.rng.sample(sorted(self.truth), QUERY_BATCH)
        t = time.time()
        with self.ctx.tracer.span("op.curate"):
            audit, kept_rows = self._curate()
            t_ann = time.time()
            got = self._ann(qids)
        dt = time.time() - t
        ann_s = time.time() - t_ann
        counts = {r["stage"]: r["n_docs"] for r in audit}
        kept = {r["doc_id"] for r in kept_rows}
        removed = set(range(self.n_docs)) - kept
        copies = {c for _, c in self.planted} | self.exact
        recall_dup = sum(c not in kept for _, c in self.planted) / len(self.planted)
        found: dict[int, set] = {}
        for r in got:
            found.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recalls = [len(found.get(q, set()) & self.truth[q]) / len(self.truth[q])
                   for q in qids]
        ok = (counts["input"] == self.n_docs
              and counts["after_near_dedup"] == len(kept)
              and removed <= copies
              and recall_dup >= MIN_NEAR_DUP_RECALL
              and all(len(found.get(q, ())) == K for q in qids)
              and sum(recalls) / len(recalls) >= MIN_ANN_RECALL)
        info = {"curate_s": t_ann - t, "near_dup_recall": recall_dup,
                "ann_recall": sum(recalls) / len(recalls),
                "ann_qps": len(qids) / ann_s}
        if self.ctx.tracer.enabled:
            cands = DD.minhash_lsh_candidates(self._exact_stage, "doc_id", "text").count()
            pairs = DD.minhash_dedup(self._exact_stage, "doc_id", "text").count()
            info.update(candidates=cands, precision=pairs / cands if cands else 1.0)
        return Op("curate", dt, ok, info)

    # ---------------------------------------------------------- per-layer

    def layer_metrics(self, spans, dec, plain, traced) -> dict:
        return self.corpus_layers(spans, plain, traced, "timed")

    def corpus_layers(self, spans, plain, traced, within: str) -> dict:
        """Per-layer metrics of the curations in ``plain`` (whole-operation
        figures) and ``traced`` (stage spans under the span ``within``)."""
        def p50(ops, key):
            return median([o.info[key] for o in ops])

        return {
            "corpus.docs_per_s": self.n_docs / p50(plain, "curate_s"),
            "corpus.near_dup_recall": p50(plain, "near_dup_recall"),
            "corpus.ann_recall_at_10": p50(plain, "ann_recall"),
            "corpus.ann_queries_per_s": p50(plain, "ann_qps"),
            **{f"corpus.{n}_s": span_p50(spans, f"corpus.{n}", within)
               for n in ("text_stats", "quality_gate", "exact_dedup", "near_dedup")},
            "dedup.lsh_candidate_pairs": p50(traced, "candidates"),
            "dedup.lsh_pair_precision": p50(traced, "precision"),
            "similarity.knn_ivf_s": span_p50(spans, "similarity.knn_ivf", within),
        }
