"""vector_index: build an IVF-PQ index, then serve query batches.

Build: ``operators.ivfpq_train.trained_books`` (Lloyd-trained coarse
and PQ books) then ``operators.ivfpq.encode_against_books``, forced to
materialize. Serve: a fixed series of ``IVFPQ_QBATCH``-query batches
through ``ivfpq_train.adc_search`` and ``ivfpq_train.
rerank_candidates``. Query vectors are corpus vectors with seeded
noise, made by the benchmark."""

from __future__ import annotations

import os
import time

from perfbench.harness import Pass, Tracer

SF = 0.1
QBATCHES = 8
TOP_K = 5
NOISE = 0.05
# the engine's fixed-point representation of an embedding (x * 1e6,
# rounded half away from zero); the re-rank joins candidates back to it
QUANTIZE = "transform(embedding, x -> cast(round(x * 1e6) as bigint))"


class VectorIndex:
    name = "vector_index"
    sf = SF
    registry_entries = ("ivfpq_train_gain", "ivfpq_filtered_rerank_topk")

    def stage(self, run, data_dir: str) -> None:
        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq

        from etl_mp_transactions_spark.operators.ivfpq import IVFPQ_QBATCH

        self.data_dir = data_dir
        path = os.path.join(data_dir, "embeddings.parquet")
        tbl = pq.read_table(path)
        self.rows = tbl.num_rows
        emb = np.stack(tbl["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
        self.ids = tbl["vec_id"].to_numpy()
        self.corpus_q = _quantize(emb)
        rng = np.random.default_rng(run.seed)
        self.queries, self.qsets = [], []
        for b in range(QBATCHES):
            pick = rng.choice(len(emb), IVFPQ_QBATCH, replace=False)
            v = emb[pick] + rng.normal(0.0, NOISE, (IVFPQ_QBATCH, emb.shape[1]))
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            qq = _quantize(v)
            self.queries.append(qq)
            pdf = pd.DataFrame({
                "query_id": np.arange(b * IVFPQ_QBATCH, (b + 1) * IVFPQ_QBATCH),
                "qqv": list(qq),
            })
            self.qsets.append(run.spark.createDataFrame(
                pdf, "query_id long, qqv array<bigint>").localCheckpoint(eager=True))

    def _emb(self, run):
        from etl_mp_transactions_spark.sources.tables import load_table

        return load_table(run.spark, self.data_dir, "embeddings")

    def _build(self, run, tracer: Tracer | None = None):
        from etl_mp_transactions_spark.operators import ivfpq, ivfpq_train

        emb = self._emb(run)
        if tracer is None:
            cb, pb, _ = ivfpq_train.trained_books(emb)
            codes, _ = ivfpq.encode_against_books(emb, cb, pb)
            n = codes.count()
        else:
            with tracer.span("operators.ivfpq_train.trained_books", op="build"):
                cb, pb, _ = ivfpq_train.trained_books(emb)
            with tracer.span("operators.ivfpq.encode_against_books", op="build"):
                codes, _ = ivfpq.encode_against_books(emb, cb, pb)
                n = codes.count()
        return cb, pb, codes, n

    def _serve(self, run, index, qset, tracer: Tracer | None = None, op=None):
        from etl_mp_transactions_spark.operators import ivfpq_train

        cb, pb, codes, _ = index
        vectors = self._emb(run).selectExpr("vec_id", f"{QUANTIZE} AS qv")
        if tracer is None:
            cand = ivfpq_train.adc_search(qset, cb, pb, codes, ivfpq_train.REFINE_R)
            return ivfpq_train.rerank_candidates(cand, qset, vectors, TOP_K).collect()
        # traced: the candidate set is materialized between the two
        # layers so each one's time is its own
        with tracer.span("operators.ivfpq_train.adc_search", op=op):
            cand = ivfpq_train.adc_search(
                qset, cb, pb, codes, ivfpq_train.REFINE_R).localCheckpoint(eager=True)
        with tracer.span("operators.ivfpq_train.rerank_candidates", op=op):
            return ivfpq_train.rerank_candidates(cand, qset, vectors, TOP_K).collect()

    def warm_up(self, run) -> None:
        index = self._build(run)
        self._serve(run, index, self.qsets[0])

    def run_pass(self, run, tracer: Tracer | None = None) -> Pass:
        t = time.perf_counter()
        index = None
        with run.operation(f"{self.name} build"):
            index = self._build(run, tracer)
        build = time.perf_counter() - t
        if tracer is not None:
            self.storage = run.engine.storage()
        ops, self.results = [], []
        for b, qset in enumerate(self.qsets):
            t = time.perf_counter()
            rows = []
            with run.operation(f"{self.name} query batch {b}"):
                rows = self._serve(run, index, qset, tracer, f"query{b}")
            ops.append(time.perf_counter() - t)
            self.results.append(rows)
        self.encoded = index[3] if index else 0
        return Pass(build, ops, self.rows)

    def trace(self, run, tracer: Tracer) -> tuple[Pass, dict[str, float]]:
        from statistics import median

        p = self.run_pass(run, tracer)
        persisted, storage_mb = self.storage
        return p, {
            "operators.ivfpq_train.trained_books.s":
                tracer.total("operators.ivfpq_train.trained_books"),
            "operators.ivfpq_train.trained_books.jobs":
                tracer.total("operators.ivfpq_train.trained_books", "jobs"),
            "operators.ivfpq.encode_against_books.s":
                tracer.total("operators.ivfpq.encode_against_books"),
            "operators.ivfpq.encode_against_books.jobs":
                tracer.total("operators.ivfpq.encode_against_books", "jobs"),
            "operators.ivfpq_train.adc_search.s.p50":
                median(tracer.durations("operators.ivfpq_train.adc_search")),
            "operators.ivfpq_train.rerank_candidates.s.p50":
                median(tracer.durations("operators.ivfpq_train.rerank_candidates")),
            "spark.persisted_rdds": persisted,
            "spark.storage_mb": storage_mb,
        }

    def baseline_op(self, run) -> float:
        t = time.perf_counter()
        self._build(run)
        return time.perf_counter() - t

    def check(self, run, con) -> None:
        """Every served row's exact distance recomputed in numpy, top-k
        shape and order per query."""
        import numpy as np

        row_of = {int(v): i for i, v in enumerate(self.ids)}

        def served():
            problems = []
            for b, (qq, rows) in enumerate(zip(self.queries, self.results)):
                by_q = {}
                for r in rows:
                    by_q.setdefault(r["query_id"], []).append(r)
                if len(by_q) != len(qq):
                    problems.append(f"{len(by_q)} of {len(qq)} queries answered")
                base = b * len(qq)
                for qid, rs in by_q.items():
                    rs.sort(key=lambda r: r["rank"])
                    d2 = [int(np.sum((self.corpus_q[row_of[r["vec_id"]]]
                                      - qq[qid - base]) ** 2)) for r in rs]
                    if [r["rank"] for r in rs] != list(range(1, TOP_K + 1)):
                        problems.append(f"query {qid}: ranks {[r['rank'] for r in rs]}")
                    if d2 != [r["exact_d2"] for r in rs] or d2 != sorted(d2):
                        problems.append(f"query {qid}: exact_d2 mismatch")
            return problems[:10]

        run.checked("vector_index served top-k exact distances", served)
        run.check("vector_index every vector encoded",
                  [] if self.encoded == self.rows * _pq_m()
                  else [f"{self.encoded} codes for {self.rows} vectors"])


def _quantize(v):
    """``QUANTIZE`` in numpy: x * 1e6 rounded half away from zero."""
    import numpy as np

    s = v * 1e6
    return (np.sign(s) * np.floor(np.abs(s) + 0.5)).astype(np.int64)


def _pq_m() -> int:
    from etl_mp_transactions_spark.operators.pq import PQ_M

    return PQ_M
