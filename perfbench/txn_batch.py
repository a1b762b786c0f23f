"""txn_batch: the paper's per-file exactly-once transaction load.

Nested bronze drops go through ``plans.transactions_pipeline.
build_pipeline(...).run`` with one ``seen_path`` store carried across
the drops of a pass. Drop k holds the orders of the companies with
``company % DROPS == k`` plus a seeded share of earlier drops' orders
(Pub/Sub redelivery); the last drop replays the whole bronze and must
write nothing.
"""

from __future__ import annotations

import os
import time

from perfbench.harness import (
    Pass, Tracer, data_files, log, noop, parquet_rows, patched,
    tree_size,
)

SF = 0.01
DROPS = 3
REDELIVER_PCT = 25
SILVER_SUFFIX = ".parquet"
MESSAGE_SUFFIX = ".txt"


class TxnBatch:
    name = "txn_batch"
    sf = SF
    registry_entries = ("flagship_silver",)

    def stage(self, run, data_dir: str) -> None:
        """Stage the nested bronze with the engine's own staging, then
        cut it into drops."""
        from pyspark.sql import functions as F

        from etl_mp_transactions_spark.sources.bronze import staged_bronze_path

        spark = run.spark
        self.data_dir = data_dir
        self.bronze_path = staged_bronze_path(spark, data_dir)
        bronze = spark.read.parquet(self.bronze_path)
        company = F.expr("cast(substr(company_id, 6) as int)")
        redeliver = F.pmod(
            F.xxhash64(F.lit(str(run.seed)), F.col("payload")[0]["lines"][0]["checksum"]),
            F.lit(100),
        ) < REDELIVER_PCT
        stage_dir = run.fresh_dir("txn-drops")
        self.drops = []
        for k in range(DROPS):
            path = os.path.join(stage_dir, f"drop{k}")
            mine = company % DROPS == k
            bronze.filter(mine | ((company % DROPS < k) & redeliver)).write.parquet(path)
            self.drops.append(path)
        # the final drop is the full replay: the whole staged bronze
        self.drops.append(self.bronze_path)
        self.lines = [
            spark.read.parquet(p).select(
                F.sum(F.size(F.col("payload")[0]["lines"]))
            ).first()[0]
            for p in self.drops
        ]

    def warm_up(self, run) -> None:
        self._load(run, self.drops[0], self._outputs(run))

    def _outputs(self, run) -> dict:
        out = run.fresh_dir("txn-out")
        return {"silver_path": f"{out}/silver", "messages_path": f"{out}/messages",
                "seen_path": f"{out}/seen"}

    @staticmethod
    def _load(run, drop: str, outputs: dict) -> None:
        from etl_mp_transactions_spark.plans.transactions_pipeline import build_pipeline

        build_pipeline(bronze_path=drop, **outputs).run(run.spark)

    def run_pass(self, run, tracer: Tracer | None = None) -> Pass:
        outputs = self._outputs(run)
        self.last_outputs = outputs
        self.written = []  # (silver rows, messages) per drop
        ops = []
        for k, drop in enumerate(self.drops):
            if tracer is not None:
                self._probe_prefixes(run, tracer, drop, outputs, k)
            t = time.perf_counter()
            with run.operation(f"{self.name} drop {k}"):
                if tracer is None:
                    self._load(run, drop, outputs)
                else:
                    with tracer.span("plans.transactions_pipeline.run", op=f"drop{k}") as rec:
                        self._load(run, drop, outputs)
            ops.append(time.perf_counter() - t)
            self.written.append(self._new_output(outputs, k))
            if tracer is not None:
                rec["attrs"]["seen_store"] = self._seen_store(outputs)
        return Pass(sum(ops), ops, sum(self.lines))

    def _new_output(self, outputs: dict, k: int) -> tuple[int, int]:
        """Silver rows and messages this drop added (read from file
        footers and lines, outside the timed region)."""
        if k == 0:
            self._seen_files = (set(), set())
        silver = data_files(outputs["silver_path"], SILVER_SUFFIX)
        msgs = data_files(outputs["messages_path"], MESSAGE_SUFFIX)
        new_silver = silver - self._seen_files[0]
        new_msgs = msgs - self._seen_files[1]
        self._seen_files = (silver, msgs)
        n_msgs = 0
        for f in new_msgs:
            with open(f, "rb") as fh:
                n_msgs += sum(1 for _ in fh)
        return parquet_rows(new_silver), n_msgs

    @staticmethod
    def _seen_store(outputs: dict) -> dict:
        files = data_files(outputs["seen_path"], ".parquet")
        return {"keys": parquet_rows(f for f in files if "/checksum/" in f),
                "files": len(files)}

    def _probe_prefixes(self, run, tracer, drop, outputs, k) -> None:
        """Time each lazy stage by materializing the plan prefix that
        ends with it to the noop sink, each in its own span (before the
        drop's load, so the seen store is in the state the load sees)."""
        from etl_mp_transactions_spark.plans import transactions_pipeline as tp

        params = dict(outputs, bronze_path=drop)
        op = f"drop{k}-probe"
        with tracer.span("probe.bronze_scan", op=op):
            noop(tp.extract_bronze(run.spark, params))
        with tracer.span("probe.silver", op=op) as s:
            silver = tp.to_silver(tp.extract_bronze(run.spark, params), params)
            s["attrs"]["rows"] = noop(silver, observe=True)
        with tracer.span("probe.dedup", op=op) as s:
            s["attrs"]["rows"] = noop(tp.dedup_against_seen(silver, params), observe=True)

    def trace(self, run, tracer: Tracer) -> tuple[Pass, dict[str, float]]:
        """One traced pass with the loads' writers and the seen-store
        commit timed through wrappers; returns the per-layer metrics."""
        from etl_mp_transactions_spark.operators import seen_keys
        from etl_mp_transactions_spark.sinks import writers

        def timed(name):
            def wrap(fn):
                def inner(*a, **kw):
                    with tracer.span(name):
                        return fn(*a, **kw)
                return inner
            return wrap

        with patched(writers, "write_silver_partitioned",
                     timed("sinks.writers.write_silver_partitioned")), \
                patched(writers, "write_json_messages",
                        timed("sinks.writers.write_json_messages")), \
                patched(seen_keys.SeenKeysStore, "commit",
                        timed("operators.seen_keys.commit")):
            p = self.run_pass(run, tracer)

        def rows(name):
            return sum(r["attrs"]["rows"] for r in tracer.spans if r["name"] == name)

        scan, silver, dedup = (tracer.total(n) for n in
                               ("probe.bronze_scan", "probe.silver", "probe.dedup"))
        s_files, s_bytes = tree_size(self.last_outputs["silver_path"], SILVER_SUFFIX)
        m_files, m_bytes = tree_size(self.last_outputs["messages_path"], MESSAGE_SUFFIX)
        store = self._seen_store(self.last_outputs)
        return p, {
            "plans.transactions_pipeline.run.s": tracer.total("plans.transactions_pipeline.run"),
            "plans.transactions_pipeline.run.jobs":
                tracer.total("plans.transactions_pipeline.run", "jobs"),
            "plans.transactions_pipeline.run.failed_tasks":
                tracer.total("plans.transactions_pipeline.run", "failed_tasks"),
            "sources.bronze.scan.s": scan,
            "operators.silver.silver_transactions.s": silver - scan,
            "plans.transactions_pipeline.dedup_against_seen.s": dedup - silver,
            "plans.transactions_pipeline.dedup_against_seen.survivor_ratio":
                rows("probe.dedup") / max(1, rows("probe.silver")),
            "plans.transactions_pipeline.dedup_against_seen.shuffle_write_mb":
                tracer.total("probe.dedup", "shuffle_write_mb")
                - tracer.total("probe.silver", "shuffle_write_mb"),
            "sinks.writers.write_silver_partitioned.s":
                tracer.total("sinks.writers.write_silver_partitioned"),
            "sinks.writers.write_silver_partitioned.files": s_files,
            "sinks.writers.write_silver_partitioned.mb": s_bytes / 2**20,
            "sinks.writers.write_json_messages.s":
                tracer.total("sinks.writers.write_json_messages"),
            "sinks.writers.write_json_messages.files": m_files,
            "sinks.writers.write_json_messages.mb": m_bytes / 2**20,
            "operators.seen_keys.commit.s": tracer.total("operators.seen_keys.commit"),
            "operators.seen_keys.store.keys": store["keys"],
            "operators.seen_keys.store.files": store["files"],
            "plans.transactions_pipeline.run.replay_s": p.ops[-1],
        }

    def baseline_op(self, run) -> float:
        t = time.perf_counter()
        self._load(run, self.drops[0], self._outputs(run))
        return time.perf_counter() - t

    def check(self, run, con) -> None:
        """Exactly-once invariants of the last pass against an
        independent DuckDB count over the flat generated tables."""
        expect = dict(con.sql(f"""
            SELECT (o_custkey % 10) % {DROPS} AS k,
                   count(DISTINCT md5(CAST(l_orderkey AS VARCHAR) || '-'
                                      || CAST(l_linenumber AS VARCHAR)))
            FROM lineitem JOIN orders ON o_orderkey = l_orderkey
            GROUP BY 1""").fetchall())
        silver = [w[0] for w in self.written]
        msgs = [w[1] for w in self.written]
        problems = []
        for k in range(DROPS):
            if silver[k] != expect.get(k, 0):
                problems.append(f"drop {k}: {silver[k]} silver rows, "
                                f"{expect.get(k, 0)} new checksums")
        run.check("txn_batch new rows per drop", problems)
        run.check("txn_batch silver total == distinct input checksums",
                  [] if sum(silver) == sum(expect.values())
                  else [f"{sum(silver)} != {sum(expect.values())}"])
        run.check("txn_batch replay drop writes 0 rows",
                  [] if silver[-1] == 0 and msgs[-1] == 0
                  else [f"replay wrote {silver[-1]} silver, {msgs[-1]} messages"])
        run.check("txn_batch messages == silver rows",
                  [] if msgs == silver else [f"messages {msgs} silver {silver}"])
        log(f"txn_batch written per drop (silver, messages): {self.written}")
