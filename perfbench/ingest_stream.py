"""ingest_stream: file-at-a-time exactly-once ingest.

Half of the generated documents (odd ``doc_id``) is the existing
corpus, bootstrapped into the content-hash ledger. The other half
arrives as FILES small parquet files with fixed increasing mtimes, one
micro-batch each, drained by ``streaming.filesource.
stream_incremental_dedup_run``; a replay of the first file arrives last
and must add no row. A pass is one such drain into a fresh copy of the
ledger; short passes let a run take the median of several. This is a
closed-loop backlog drain: the public runners only expose the
``availableNow`` trigger.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench.harness import Pass, Tracer, data_files, log, median, parquet_rows

SF = 0.02
FILES = 4  # about 125 documents per file
WARM_UP_PASSES = 2  # batch times still fall over the first ~10 batches (JIT)
BASELINE_FILES = 4
MTIME0 = 1_700_000_000


def _batch_twin_sql(files: int) -> str:
    """The same dedup as one batch over every file: first file holding
    a new content hash wins, smallest doc_id within it."""
    return f"""
    WITH newd AS (
      SELECT doc_id, (doc_id // 2) % {files} AS g, md5(text) AS ch
      FROM documents WHERE doc_id % 2 = 0
    ),
    oldc AS (SELECT DISTINCT md5(text) AS ch FROM documents WHERE doc_id % 2 <> 0),
    fresh AS (SELECT * FROM newd WHERE ch NOT IN (SELECT ch FROM oldc)),
    win AS (
      SELECT ch, doc_id,
             row_number() OVER (PARTITION BY ch ORDER BY g, doc_id) AS rn
      FROM fresh
    )
    SELECT ch, doc_id AS canonical_doc_id FROM win WHERE rn = 1
    """


class BatchListener:
    """Per-micro-batch durations from Spark's own progress events."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({"batch": p.batchId, "rows": p.numInputRows,
                               **dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def register(self, spark) -> None:
        """Listen on ``spark`` (once per session)."""
        if getattr(self, "_session", None) is not spark:
            spark.streams.addListener(self.listener)
            self._session = spark

    def wait(self, run, n: int, timeout_s: float = 60) -> list[dict]:
        deadline = time.monotonic() + timeout_s
        while True:
            run.engine.drain()
            if len(self.events) >= n or time.monotonic() > deadline:
                return list(self.events)
            time.sleep(0.05)


class IngestStream:
    name = "ingest_stream"
    sf = SF
    registry_entries = ("r17_stream_incremental_dedup",)

    def __init__(self):
        self.batches = BatchListener()

    def stage(self, run, data_dir: str) -> None:
        """Cut the arriving half into files (fixed increasing mtimes)
        and bootstrap the ledger from the existing half."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from etl_mp_transactions_spark.sources.tables import load_table
        from etl_mp_transactions_spark.streaming.filesource import bootstrap_seen_store

        self.data_dir = data_dir
        docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
        ids = docs["doc_id"].to_numpy()
        stage_dir = run.fresh_dir("stream-stage")
        self.src = os.path.join(stage_dir, "in")
        os.makedirs(self.src)
        self.files = []
        for g in range(FILES):
            mask = (ids % 2 == 0) & ((ids // 2) % FILES == g)
            path = os.path.join(self.src, f"f{g:03d}.parquet")
            pq.write_table(docs.filter(pa.array(mask)), path)
            os.utime(path, (MTIME0 + 10 * g,) * 2)
            self.files.append(path)
        replay = os.path.join(self.src, "replay.parquet")
        shutil.copy(self.files[0], replay)
        os.utime(replay, (MTIME0 + 10 * FILES,) * 2)
        self.rows = int(np.sum(ids % 2 == 0)) + parquet_rows([replay])
        self.boot = os.path.join(stage_dir, "ledger")
        old = load_table(run.spark, data_dir, "documents").filter(F.col("doc_id") % 2 != 0)
        bootstrap_seen_store(run.spark, old.select(F.md5("text").alias("ch")).distinct(),
                             self.boot)
        self.batches.register(run.spark)

    def _drain(self, run, src: str) -> tuple[str, str]:
        from etl_mp_transactions_spark.streaming.filesource import (
            stream_incremental_dedup_run,
        )

        work = run.fresh_dir("stream-run")
        out, store = os.path.join(work, "out"), os.path.join(work, "store")
        shutil.copytree(self.boot, store)
        stream_incremental_dedup_run(run.spark, src, os.path.join(work, "ckpt"), out, store)
        return out, store

    def warm_up(self, run) -> None:
        for _ in range(WARM_UP_PASSES):
            self._drain(run, self.src)

    def _subset(self, run, n: int) -> str:
        src = run.fresh_dir("stream-subset")
        os.makedirs(src)
        for f in self.files[:n]:
            shutil.copy2(f, src)
        return src

    def run_pass(self, run, tracer: Tracer | None = None) -> Pass:
        n = FILES + 1
        run.engine.drain()  # no late event of an earlier drain lands in this pass
        self.batches.events.clear()
        t = time.perf_counter()
        with run.operation(f"{self.name} drain", n=n):
            if tracer is None:
                self.out, self.store = self._drain(run, self.src)
            else:
                with tracer.span("streaming.filesource.stream_incremental_dedup_run",
                                 op="drain") as rec:
                    self.out, self.store = self._drain(run, self.src)
        wall = time.perf_counter() - t
        self.events = sorted(self.batches.wait(run, n), key=lambda e: e["batch"])
        if tracer is not None:
            rec["attrs"]["batches"] = self.events
        if len(self.events) != n:
            log(f"{self.name}: {len(self.events)} progress events for {n} files")
        return Pass(wall, [e["triggerExecution"] / 1e3 for e in self.events], self.rows)

    def trace(self, run, tracer: Tracer) -> tuple[Pass, dict[str, float]]:
        p = self.run_pass(run, tracer)
        ev = self.events

        def p50(key):
            return median([e.get(key, 0) for e in ev])

        trig = [e["triggerExecution"] for e in ev if 0 < e["batch"] < FILES]  # no replay
        q = max(1, len(trig) // 4)
        ledger_files = data_files(self.store, ".parquet")
        return p, {
            "streaming.batch.trigger_ms.p50": p50("triggerExecution"),
            "streaming.batch.add_batch_ms.p50": p50("addBatch"),
            "streaming.batch.latest_offset_ms.p50": p50("latestOffset"),
            "streaming.batch.wal_commit_ms.p50": p50("walCommit"),
            "streaming.batch.growth": median(trig[-q:]) / median(trig[:q]),
            "streaming.ledger.partitions": sum(
                d.startswith("batch=") for d in os.listdir(self.store)),
            "streaming.ledger.mb":
                sum(os.path.getsize(f) for f in ledger_files) / 2**20,
            "streaming.survivor_ratio":
                parquet_rows(data_files(self.out, ".parquet")) / self.rows,
        }

    def baseline_op(self, run) -> float:
        self.batches.register(run.spark)
        src = self._subset(run, BASELINE_FILES)
        t = time.perf_counter()
        self._drain(run, src)
        return time.perf_counter() - t

    def check(self, run, con) -> None:
        import pandas as pd
        import pyarrow.parquet as pq

        from perfbench import checks

        def twin():
            files = sorted(data_files(self.out, ".parquet"))
            got = pd.concat([pq.read_table(f).to_pandas() for f in files]) \
                if files else pd.DataFrame({"ch": [], "canonical_doc_id": []})
            run.result_hash = checks.multiset_hash(got)
            return checks.compare(got.reset_index(drop=True),
                                  con.sql(_batch_twin_sql(FILES)).df())

        run.checked("ingest_stream output == batch twin", twin)
        replay_dir = os.path.join(self.out, f"batch={FILES}")
        replay = parquet_rows(data_files(replay_dir, ".parquet"))
        run.check("ingest_stream replayed file adds 0 rows",
                  [] if os.path.isdir(replay_dir) and replay == 0
                  else [f"replay batch output: dir present={os.path.isdir(replay_dir)}, "
                        f"{replay} rows"])
        run.check("ingest_stream one progress event per file",
                  [] if len(self.events) == FILES + 1
                  else [f"{len(self.events)} events for {FILES + 1} files"])
