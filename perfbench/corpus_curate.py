"""corpus_curate: LLM corpus curation with ``operators.curation.
curate_corpus`` over the generated documents, with the parameters of
the ``corpus_curation`` registry entry. Shuffle-heavy (exact dedup plus
MinHash-LSH candidates), one materialization cut, no writes."""

from __future__ import annotations

import os
import time

from perfbench.harness import ENGINE_DELTAS, Pass, Tracer, data_files, noop, parquet_rows

SF = 0.02
QUALITY_MIN = 0.45
NEARDUP_THRESHOLD = 0.9
WARM_UP_CALLS = 3  # the first call is cold (~4x); the next two still fall (JIT)


class CorpusCurate:
    name = "corpus_curate"
    sf = SF
    registry_entries = ("corpus_curation",)

    def stage(self, run, data_dir: str) -> None:
        self.data_dir = data_dir
        path = os.path.join(data_dir, "documents.parquet")
        self.rows = parquet_rows(data_files(path, ".parquet") if os.path.isdir(path)
                                 else [path])

    def _docs(self, run):
        from etl_mp_transactions_spark.sources.tables import load_table

        return load_table(run.spark, self.data_dir, "documents")

    def _curate(self, run):
        from etl_mp_transactions_spark.operators.curation import curate_corpus

        return curate_corpus(self._docs(run), quality_min=QUALITY_MIN,
                             neardup_threshold=NEARDUP_THRESHOLD).toPandas()

    def warm_up(self, run) -> None:
        for _ in range(WARM_UP_CALLS):
            self._curate(run)

    def run_pass(self, run, tracer: Tracer | None = None) -> Pass:
        t = time.perf_counter()
        with run.operation(f"{self.name} call"):
            if tracer is None:
                self.result = self._curate(run)
            else:
                with tracer.span("operators.curation.curate_corpus", op="curate"):
                    self.result = self._curate(run)
        wall = time.perf_counter() - t
        return Pass(wall, [wall], self.rows)

    def trace(self, run, tracer: Tracer) -> tuple[Pass, dict[str, float]]:
        """A traced call, then each inner layer's span around building
        its plan and materializing it to the noop sink. The exact-dedup
        frame the near-dup layers consume is rebuilt here as
        ``curate_corpus`` builds it, and materialized first, so their
        times are their own."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from etl_mp_transactions_spark.operators import textdedup, textstats

        p = self.run_pass(run, tracer)
        docs = self._docs(run)
        with tracer.span("operators.textstats.quality_score", op="probe"):
            noop(textstats.quality_score(docs))
        with tracer.span("probe.exact_dedup", op="probe"):
            q = textstats.quality_score(docs).filter(F.col("quality") >= QUALITY_MIN)
            w = Window.partitionBy(F.md5("text"))
            ex = (q.withColumn("_canon", F.min("doc_id").over(w))
                  .filter(F.col("doc_id") == F.col("_canon")).drop("_canon")
                  .localCheckpoint(eager=True))
        with tracer.span("operators.textdedup.minhash_signatures", op="probe"):
            noop(textdedup.minhash_signatures(ex))
        with tracer.span("operators.textdedup.minhash_lsh_pairs", op="probe"):
            rows = noop(textdedup.minhash_lsh_pairs(ex, threshold=NEARDUP_THRESHOLD),
                        observe=True)
        curate, lsh = "operators.curation.curate_corpus", "operators.textdedup.minhash_lsh_pairs"
        out = {f"{curate}.{k}": tracer.total(curate, k) for k in ("s", *ENGINE_DELTAS)}
        out.update({
            "operators.textstats.quality_score.s":
                tracer.total("operators.textstats.quality_score"),
            "operators.textdedup.minhash_signatures.s":
                tracer.total("operators.textdedup.minhash_signatures"),
            f"{lsh}.s": tracer.total(lsh),
            f"{lsh}.rows_out": rows,
            f"{lsh}.shuffle_write_mb": tracer.total(lsh, "shuffle_write_mb"),
        })
        return p, out

    def baseline_op(self, run) -> float:
        t = time.perf_counter()
        self._curate(run)
        return time.perf_counter() - t

    def check(self, run, con) -> None:
        """The last call's result against the corpus_curation entry's
        DuckDB twin (the call is that entry's body)."""
        from etl_mp_transactions_spark import registry
        from perfbench import checks

        run.result_hash = checks.multiset_hash(self.result)
        run.checked("corpus_curation result == registry oracle",
                    lambda: checks.compare(self.result,
                                           con.sql(registry.oracle_sql()["corpus_curation"]).df()))
