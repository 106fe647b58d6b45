"""The benchmark's workloads: one closed-loop client per process.

Each workload generates its inputs (untimed), sets up several times,
each time in a newly launched JVM (``setup_s`` is the median), checks
its outputs, runs the JVM's cold first pass untimed, and then runs
whole passes until the measuring time is used up. An op is one user-visible
operation: a registered query built and materialized through the noop
sink, one hourly run of the ingest pipeline, or one compaction.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from collections import defaultdict
from collections.abc import Callable

import numpy as np

from . import check, gen
from .jvm import stop_spark
from .spans import Tracer

#: one query per operator family of the bench set: MinHash-LSH dedup,
#: exact dedup, tokenization, brute-force cosine top-k, and hybrid
#: BM25 + vector retrieval (the one "classic"-posture query)
CORPUS_OPS = ("dedup_minhash_lsh", "dedup_exact_fingerprint", "text_token_stats",
              "similarity_topk_bruteforce", "similarity_hybrid_rrf_topk")

#: the ingest workload's own figures and their units (0 on the others)
INGEST_METRICS = {
    "ingest.batch_s.p50": "s", "ingest.batch_s.tail": "s",
    "ingest.batch_s.tail_pct": "%", "ingest.batch_s.samples": "count",
    "ingest.replay_s.p50": "s", "ingest.bytes_per_user_byte": "ratio",
    "operators.upsert.write_yield": "ratio",
    "operators.upsert.files_added": "count",
}

#: set-ups per run; each launches a JVM, which costs 6-16 s on 4 cores,
#: and a third would not fit the run budget
SETUP_REPEATS = 2
#: a run measures at least this many whole passes
MIN_PASSES = 2


class Workload:
    """Shared life cycle; subclasses define inputs, ops and checks."""

    name = ""
    #: untimed passes before the window. The first pass in a new JVM is
    #: cold, at two to four times a later pass; the passes after it
    #: still get faster for minutes, which a run's budget cannot wait for
    warmup_passes = 1
    #: spans whose Spark jobs a traced run reads stage metrics for
    job_spans: tuple[str, ...] = ()

    def __init__(self, seed: int, work: str, cpus: int, size: str = "full") -> None:
        self.seed = seed
        self.work = work
        self.cpus = cpus
        self.size = size
        self.input_dir = f"{work}/input"
        self.spark = None
        self.tracer: Tracer | None = None
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.cache_peak_bytes = 0
        self._op_seq = 0

    # -- session ------------------------------------------------------

    def start_session(self):
        from crypto_etl_airflow_spark import session

        spark = session.get_spark(
            app_name=f"perfbench-{self.name}",
            master=f"local[{self.cpus}]",
            extra_conf={
                "spark.driver.memory": "4g",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": f"{self.work}/spark-local",
                "spark.sql.warehouse.dir": f"{self.work}/spark-warehouse",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> list[float]:
        """JVM launch, session start and size-aware posture, timed
        ``SETUP_REPEATS`` times. Each set-up launches a new JVM; the
        last one's session serves the rest of the run."""
        from crypto_etl_airflow_spark import session

        times = []
        for _ in range(SETUP_REPEATS):
            if self.spark is not None:
                stop_spark()
            t0 = time.perf_counter()
            self.spark = self.start_session()
            self.posture = session.tune_execution(self.spark, self.posture_path())
            times.append(time.perf_counter() - t0)
        return times

    def posture_path(self) -> str:
        return self.input_dir

    # -- measuring ----------------------------------------------------

    def timed(self, kind: str, fn: Callable[[], object]) -> object:
        """Run one op as its own job group and record its latency;
        a raised error counts as a failed op."""
        self._op_seq += 1
        op_id = f"{kind}#{self._op_seq}"
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, kind)
        self.attempted += 1
        tracer = self.tracer
        if tracer is not None:
            tracer.op = op_id
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = fn()
            else:
                with tracer.span("bench.op", "bench"):
                    out = fn()
        except Exception as ex:  # noqa: BLE001 — an op failure is a result
            self.failures.append(f"{kind}: {type(ex).__name__}: {str(ex)[:160]}")
            return None
        finally:
            sc.setJobGroup("perfbench-idle", "idle")
        self.samples[kind].append(time.perf_counter() - t0)
        if tracer is not None:
            self._record_spark(op_id)
        return out

    def trace_with(self, tracer: Tracer | None) -> None:
        """Trace the following ops with ``tracer`` (None: stop)."""
        self.tracer = tracer
        if tracer is not None:
            st = self.spark.sparkContext.statusTracker()
            tracer.watch_jobs(self.job_spans,
                              lambda: list(st.getJobIdsForGroup(tracer.op)))

    def _record_spark(self, op_id: str) -> None:
        """The op's Spark job, stage and task counts, and for each
        watched span the records its jobs read and the bytes they wrote,
        as Spark's status store reports them."""
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        st = sc.statusTracker()
        stages: dict[int, list[int]] = {}
        for jid in st.getJobIdsForGroup(op_id):
            self.tracer.count("spark.jobs")
            info = st.getJobInfo(jid)
            stages[jid] = list(info.stageIds) if info else []
            for sid in stages[jid]:
                stage = st.getStageInfo(sid)
                if stage:
                    self.tracer.count("spark.stages")
                    self.tracer.count("spark.tasks", stage.numTasks)
                    self.tracer.count("spark.task_failures", stage.numFailedTasks)
        jsc = sc._jsc.sc()
        if self.tracer.span_jobs:
            jsc.listenerBus().waitUntilEmpty()
            store = jsc.statusStore()
            for name, jobs in self.tracer.span_jobs.items():
                for sid in {s for j in jobs for s in stages.get(j, ())}:
                    try:
                        data = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # evicted from the store
                        continue
                    self.tracer.count(f"{name}.input_records", data.inputRecords())
                    self.tracer.count(f"{name}.output_bytes", data.outputBytes())
            self.tracer.span_jobs.clear()
        cached = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())
        self.cache_peak_bytes = max(self.cache_peak_bytes, cached)

    def measure(self, seconds: float) -> list[float]:
        """Whole passes until ``seconds`` have gone by, and at least
        ``MIN_PASSES``; returns the wall time of each pass."""
        rng = np.random.default_rng([self.seed, self._op_seq])
        passes = []
        start = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - start < seconds:
            t0 = time.perf_counter()
            if self.tracer is None:
                self.one_pass(rng)
            else:
                with self.tracer.span("bench.pass", "bench"):
                    self.one_pass(rng)
            passes.append(time.perf_counter() - t0)
        return passes

    def warm_up(self) -> None:
        """``warmup_passes`` untimed passes; their samples are dropped."""
        rng = np.random.default_rng([self.seed, self._op_seq])
        for _ in range(self.warmup_passes):
            self.one_pass(rng)
        self.samples.clear()
        self.reset_window()

    def reset_window(self) -> None:
        """Forget the workload's own figures gathered so far."""

    def op_medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.samples.items() if v}

    def extra_metrics(self) -> dict[str, float]:
        """Workload-specific figures, named in ``INGEST_METRICS``."""
        return {}

    # subclasses
    def generate(self) -> None: ...
    def check_outputs(self) -> None: ...
    def one_pass(self, rng: np.random.Generator) -> None: ...
    def finish(self) -> None: ...


class Corpus(Workload):
    """The corpus kernels: registered queries in a closed loop, each
    once per pass in a seeded order, through ``registry.query_map()`` so
    the engine's per-query posture applies as it does for users. Reuse
    caches are released after every op."""

    name = "corpus"
    #: the check pass is the cold pass
    warmup_passes = 0

    def generate(self) -> None:
        from crypto_etl_airflow_spark.plans import registry

        os.makedirs(self.input_dir)
        n = 500 if self.size == "full" else 100
        gen.write_corpus(self.input_dir, self.seed, n_docs=n, n_vecs=n)
        queries = registry.query_map()
        self.builders = {name: queries[name] for name in CORPUS_OPS}

    def run_query(self, name: str) -> None:
        from crypto_etl_airflow_spark.operators import dedup

        build, tracer = self.builders[name], self.tracer

        def op() -> None:
            if tracer is None:
                df = build(self.spark, self.input_dir)
                df.write.format("noop").mode("overwrite").save()
                return
            with tracer.span("plans.build", "plans"):
                df = build(self.spark, self.input_dir)
            tracer.count("plans.eager_jobs", len(
                self.spark.sparkContext.statusTracker().getJobIdsForGroup(tracer.op)))
            with tracer.span("spark.action", "spark"):
                df.write.format("noop").mode("overwrite").save()

        self.timed(name, op)
        dedup.release_reuse_caches()

    def check_outputs(self) -> None:
        """One untimed pass that collects every op's result and compares
        it with the DuckDB oracle on the same files."""
        from crypto_etl_airflow_spark.operators import dedup
        from crypto_etl_airflow_spark.plans import registry
        from crypto_etl_airflow_spark.sources.tables import TABLES

        oracles = registry.oracle_map()
        con = check.oracle_connection(self.input_dir, TABLES)
        try:
            for name, build in self.builders.items():
                self.attempted += 1
                try:
                    problem = check.compare_to_oracle(
                        build(self.spark, self.input_dir), oracles[name], con)
                except Exception as ex:  # noqa: BLE001 — reported, not raised
                    problem = f"{type(ex).__name__}: {str(ex)[:160]}"
                if problem:
                    self.failures.append(f"{name}: {problem}")
                dedup.release_reuse_caches()
        finally:
            con.close()

    def one_pass(self, rng: np.random.Generator) -> None:
        for i in rng.permutation(len(CORPUS_OPS)):
            self.run_query(CORPUS_OPS[i])


class IngestUpsert(Workload):
    """The reference DAG, ``pipeline.run_ingest_pipeline``, run hour
    after hour against a warehouse pre-seeded with 30 days of history,
    with an in-process seeded source. A pass is one compaction cycle:
    ``RUNS_PER_PASS`` hourly runs, exactly one of them a replay of an
    already-loaded hour, then ``compact``."""

    name = "ingest_upsert"
    job_spans = ("operators.upsert.upsert_append", "quality.checks.run_scan",
                 "operators.compact.compact")
    RUNS_PER_PASS = 2
    KEYS = ["crypto_id", "extracted_at"]

    def generate(self) -> None:
        coins, days = (1000, 30) if self.size == "full" else (20, 2)
        self.plan = gen.ingest_plan(self.seed, coins=coins, days=days,
                                    runs_per_pass=self.RUNS_PER_PASS)
        self.warehouse = f"{self.work}/warehouse"
        gen.write_history(self.plan, self.warehouse)
        #: hours loaded so far, which is also the next fresh hour
        self.loaded = self.plan.history_hours
        self.next_run = 0
        self.stats: dict[str, float] = defaultdict(float)

    def posture_path(self) -> str:
        return self.warehouse

    def run_pipeline(self) -> None:
        """The next run of the plan: a fresh hour, or a replay."""
        from crypto_etl_airflow_spark import pipeline

        replay = self.plan.replays[self.next_run]
        self.next_run += 1
        hour = replay if replay >= 0 else self.loaded
        payload = self.plan.payload(hour)

        def fetch(url: str) -> str:
            return '{"gecko_says": "(V3) To the Moon!"}' if url.endswith("/ping") else payload

        files_before = parquet_files(self.warehouse)
        kind = "replay" if replay >= 0 else "batch"
        out = self.timed(kind, lambda: pipeline.run_ingest_pipeline(
            self.spark, self.warehouse, coins=self.plan.coins, fetch=fetch,
            extracted_at=self.plan.hour(hour),
            now=self.plan.hour(max(hour, self.loaded - 1)),
            sensor_poke_interval=0.0, retries=0,
        ))
        if out is None:
            return
        written = out[0]
        expected = 0 if replay >= 0 else len(self.plan.coins)
        if written != expected:
            self.failures.append(f"{kind} of hour {hour} wrote {written}, expected {expected}")
        s = self.stats
        s["offered"] += len(self.plan.coins)
        s["written"] += written
        if self.tracer is not None:
            self.tracer.count("operators.upsert.rows_written", written)
        if replay < 0:
            s["fresh_runs"] += 1
            s["files_added"] += parquet_files(self.warehouse) - files_before
            self.loaded += 1

    def run_compact(self) -> None:
        from crypto_etl_airflow_spark.operators import compact

        self.timed("compact", lambda: compact.compact(self.spark, self.warehouse))

    def reset_window(self) -> None:
        self.stats.clear()

    def one_pass(self, rng: np.random.Generator) -> None:
        for _ in range(self.RUNS_PER_PASS):
            self.run_pipeline()
        self.run_compact()

    def finish(self) -> None:
        """The warehouse invariants, checked once after the last run."""
        self.attempted += 1
        problems = check.warehouse_invariants(
            self.spark, self.warehouse, self.KEYS, self.loaded * len(self.plan.coins))
        self.failures += [f"warehouse: {p}" for p in problems]

    def extra_metrics(self) -> dict[str, float]:
        s = self.stats
        batches = sorted(self.samples.get("batch", []))
        replays = self.samples.get("replay", [])
        tail, pct = tail_percentile(batches)
        user_bytes = self.user_bytes()
        return {
            "ingest.batch_s.p50": statistics.median(batches) if batches else 0.0,
            "ingest.batch_s.tail": tail,
            "ingest.batch_s.tail_pct": pct,
            "ingest.batch_s.samples": len(batches),
            "ingest.replay_s.p50": statistics.median(replays) if replays else 0.0,
            "ingest.bytes_per_user_byte": dir_bytes(self.warehouse) / user_bytes,
            "operators.upsert.write_yield": s["written"] / max(1, s["offered"]),
            "operators.upsert.files_added": s["files_added"] / max(1, s["fresh_runs"]),
        }

    def user_bytes(self) -> int:
        """Arrow bytes of the committed rows (the user's data)."""
        import pyarrow.parquet as pq

        return pq.read_table(self.warehouse).nbytes


def parquet_files(path: str) -> int:
    """Parquet files under ``path`` (counted here, not through the
    engine, so a traced run does not charge the count to ``operators``)."""
    return sum(f.endswith(".parquet") for _root, _dirs, files in os.walk(path)
               for f in files)


def dir_bytes(path: str) -> int:
    """Bytes on disk under ``path``, every file counted."""
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


def tail_percentile(sorted_samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile; (0, 0) when there are ten samples or fewer."""
    n = len(sorted_samples)
    if n <= 10:
        return 0.0, 0.0
    pct = math.floor(100 * (n - 10) / n)
    return float(np.percentile(sorted_samples, pct)), float(pct)


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (Corpus, IngestUpsert)}
