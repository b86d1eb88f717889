"""Spark side of one benchmark run, started by ``run.py`` in a fresh
process per workload: ``python3 perfbench/child.py <config.json>``.

Builds the session (the part ``setup_s`` covers), runs one untimed
warm-up op, runs the closed-loop measurement window, and in a traced
run also times each layer on already-materialised input. It writes one
JSON result file; ``run.py`` checks the outputs and derives metrics.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql.streaming import StreamingQueryListener

from spans import JobMetrics, Tracer, peak_rss_mb

# query_mix: one query per engine family, each with a DuckDB oracle
# (the Python-worker path is measured by fetch_infer). A round is a
# seeded permutation of the list; one untimed cold round and
# seconds / ROUND_S timed rounds fit the run budget on 4 cores.
QUERIES = [
    "q1_pricing_summary",
    "window_rank_topn",
    "dedup_exact",
    "ann_topk_bruteforce",
    "text_quality",
    "sessionize_events",
    "stream_tumbling_agg",
]
STREAMING_QUERIES = {"stream_tumbling_agg"}
ROUND_S = 2.5  # fixes the round count per --seconds: 3 rounds at 8 s
LAYER_REPS = 2


def _identity(batches):
    yield from batches


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cached(df):
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def _op_error(exc: BaseException) -> str:
    traceback.print_exc(file=sys.stderr)
    return f"{type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}"


class Run:
    # the first op after set-up runs 2-3x longer than later ones and the
    # second still ~20% longer (JIT, Python workers): neither is timed
    warmup_ops = 2

    def __init__(self, cfg: dict, spark, registry, tracer: Tracer):
        self.cfg = cfg
        self.spark = spark
        self.registry = registry
        self.tracer = tracer
        self.cores = spark.sparkContext.defaultParallelism
        self.jobs = JobMetrics(spark) if tracer.enabled else None
        self.ops: list[dict] = []
        self.layers: dict[str, list[float]] = {}
        self.out_root = os.path.join(cfg["work_dir"], "out")

    # -- helpers -------------------------------------------------------------
    def _out(self, i: int) -> str:
        return os.path.join(self.out_root, f"op{i:04d}")

    def record(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(float(value))

    def run_op(self, phase: str, traced: bool = False, **kw) -> dict:
        i = len(self.ops)
        rec = {"i": i, "phase": phase, "error": None}
        group = f"op-{i}"
        try:
            if traced:
                with self.tracer.span("op", op=i, phase=phase), self.jobs.group(group):
                    self.op(i, rec, **kw)
                m = self.jobs.collect({group} | set(rec.pop("stream_groups", ())))
                rec["executor"] = m
            else:
                self.op(i, rec, **kw)
        except Exception as exc:  # noqa: BLE001 - one failed op must not end the run
            rec["error"] = _op_error(exc)
        self.ops.append(rec)
        return rec

    def window(self, seconds: float, alternate_traced: bool = False) -> float:
        """Closed loop: the next op starts when the previous one ends,
        until ``seconds`` have passed. Returns the loop wall time."""
        start = time.perf_counter()
        n = 0
        while True:
            traced = alternate_traced and n % 2 == 1
            self.run_op("traced" if traced else "timed", traced=traced)
            n += 1
            if time.perf_counter() - start >= seconds:
                return time.perf_counter() - start

    def executor_metrics(self) -> None:
        for rec in self.ops:
            m = rec.get("executor")
            if not m or rec["error"]:
                continue
            self.record("executor.tasks", m["tasks"])
            self.record("executor.failed_tasks", m["failed_tasks"])
            self.record("executor.gc_s", m["gc_ms"] / 1000)
            self.record("executor.shuffle_write_bytes", m["shuffle_write_bytes"])
            self.record("executor.spill_bytes", m["spill_bytes"])
            self.record("executor.busy_frac", m["run_ms"] / 1000 / (rec["t"] * self.cores))

    def sink_metrics(self, out: str, m: dict) -> None:
        parts = [n for n in os.listdir(out) if n.startswith("part-")]
        self.record("sinks.jobs_per_write", m["jobs"])
        self.record("sinks.shuffle_write_bytes", m["shuffle_write_bytes"])
        self.record("sinks.files_written", len(parts))
        self.record("sinks.bytes_written", sum(os.path.getsize(os.path.join(out, n)) for n in parts))

    @contextmanager
    def layer(self, name: str, group: str):
        """Span plus job group around one layer call; records
        ``<name>_s``. Yields the span record."""
        with self.tracer.span(name, op=len(self.ops)) as rec, self.jobs.group(group):
            yield rec
        self.record(f"{name}_s", rec["dur"])


# --- batch_classify ---------------------------------------------------------

class BatchClassify(Run):
    def op(self, i: int, rec: dict) -> None:
        from swat_mapreduce_spark import cli

        out = self._out(i)
        t0 = time.perf_counter()
        rc = cli.main([self.cfg["input"]["manifest_dir"], out])
        rec["t"] = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc}")
        rec["rows"] = self.cfg["input"]["clean_rows"]
        rec["out"] = out

    def layer_pass(self, rep: int) -> None:
        from swat_mapreduce_spark.operators import classify
        from swat_mapreduce_spark.sources import readers, sinks

        spark, tag = self.spark, f"layers-{rep}"
        with self.layer("readers.manifest_scan", f"{tag}-scan"):
            m = readers.read_manifest(spark, self.cfg["input"]["manifest_dir"])
            _noop(m)
        self.record("readers.scan_partitions", m.rdd.getNumPartitions())
        m = _cached(m)
        with self.layer("classify.clean", f"{tag}-clean"):
            c = classify.clean_manifest(m)
            _noop(c)
        c = _cached(c)
        self.record("classify.clean_keep_ratio", c.count() / m.count())
        with self.layer("classify.score", f"{tag}-score"):
            s = classify.predict_top1(classify.score(c))
            _noop(s)
        s = _cached(s)
        with self.layer("classify.label_join", f"{tag}-labels"):
            lab = classify.attach_labels(s, spark)
            _noop(lab)
        lab = _cached(lab)
        i = len(self.ops)
        rec = {"i": i, "phase": "layers", "error": None, "out": self._out(i), "t": 0.0}
        with self.layer("sinks.write", f"{tag}-write") as w:
            sinks.write_predictions_tsv(lab.select("image_path", "class", "prob"), rec["out"])
        rec["t"] = w["dur"]
        self.sink_metrics(rec["out"], self.jobs.collect({f"{tag}-write"}))
        self.ops.append(rec)
        for df in (m, c, s, lab):
            df.unpersist()


# --- fetch_infer ------------------------------------------------------------

class FetchInfer(Run):
    def _objects(self):
        from pyspark.sql import functions as F

        from swat_mapreduce_spark.sources import readers

        objs = readers.read_binary_objects(self.spark, os.path.join(self.cfg["input"]["objects_dir"], "*.bin"))
        doc_id = F.regexp_extract("path", r"obj_(\d+)\.bin$", 1).cast("long")
        return objs.select(doc_id.alias("doc_id"), "content")

    def _ids(self):
        from pyspark.sql import functions as F

        return self.spark.read.text(self.cfg["input"]["ids_path"]).select(
            F.col("value").cast("long").alias("doc_id")
        )

    def op(self, i: int, rec: dict) -> None:
        from swat_mapreduce_spark.operators import inference
        from swat_mapreduce_spark.sources import sinks

        out = self._out(i)
        t0 = time.perf_counter()
        joined = self._ids().join(self._objects(), "doc_id")
        sinks.write_parquet(inference.predict_batch_from_payload(joined), out)
        rec["t"] = time.perf_counter() - t0
        rec["rows"] = self.cfg["input"]["objects"]
        rec["out"] = out

    def layer_pass(self, rep: int) -> None:
        from pyspark.sql import functions as F

        from swat_mapreduce_spark.operators import inference
        from swat_mapreduce_spark.sources import sinks

        tag = f"layers-{rep}"
        with self.layer("readers.binary_list", f"{tag}-list"):
            objs = self._objects()  # the file index lists the directory here
        with self.layer("readers.binary_read", f"{tag}-read"):
            _noop(objs)
        self.record("readers.binary_partitions", objs.rdd.getNumPartitions())
        joined = _cached(self._ids().join(objs, "doc_id"))
        per_part = [r[1] for r in joined.groupBy(F.spark_partition_id()).count().collect()]
        batch = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        self.record("inference.arrow_batches", sum(math.ceil(n / batch) for n in per_part))
        with self.layer("inference.payload", f"{tag}-infer"):
            preds = inference.predict_batch_from_payload(joined)
            _noop(preds)
        m = self.jobs.collect({f"{tag}-infer"})
        self.record("inference.tasks", m["tasks"])
        self.record("inference.task_run_s", m["run_ms"] / 1000)
        self.record("inference.task_cpu_s", m["cpu_ns"] / 1e9)
        preds = _cached(preds)
        i = len(self.ops)
        rec = {"i": i, "phase": "layers", "error": None, "out": self._out(i), "t": 0.0}
        with self.layer("sinks.write", f"{tag}-write") as w:
            sinks.write_parquet(preds, rec["out"])
        rec["t"] = w["dur"]
        rec["rows"] = self.cfg["input"]["objects"]
        self.sink_metrics(rec["out"], self.jobs.collect({f"{tag}-write"}))
        self.ops.append(rec)
        joined.unpersist()
        preds.unpersist()


# --- query_mix --------------------------------------------------------------

class StreamEvents(StreamingQueryListener):
    """Counts micro-batches and remembers the run ids of streaming
    queries, whose jobs Spark tags with the run id as job group."""

    def __init__(self):
        self.run_ids: list[str] = []
        self.terminated: set[str] = set()
        self.batches = 0

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        self.batches += 1

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.add(str(event.runId))


class QueryMix(Run):
    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self._selfcheck = None
        self.rng = random.Random(f"query_mix-order:{self.cfg['seed']}")
        self.streams = None
        if self.tracer.enabled:
            self.streams = StreamEvents()
            self.spark.streams.addListener(self.streams)

    def table_hash(self, cols, rows):
        if self._selfcheck is None:
            from check import load_selfcheck

            self._selfcheck = load_selfcheck(self.cfg["repo_root"])
        return self._selfcheck.table_hash(cols, rows)

    def op(self, i: int, rec: dict, name: str) -> None:
        q = self.registry[name]
        rec["name"] = name
        n_streams = len(self.streams.run_ids) if self.streams else 0
        b0 = self.streams.batches if self.streams else 0
        t0 = time.perf_counter()
        df = q.spark_fn(self.spark, self.cfg["input"]["tables_dir"])
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        rec.update(t=t2 - t0, build=t1 - t0, exec=t2 - t1, rows=len(rows))
        if self.streams:
            started = self.streams.run_ids[n_streams:]
            deadline = time.monotonic() + 5
            while not set(started) <= self.streams.terminated and time.monotonic() < deadline:
                time.sleep(0.02)
            rec["stream_groups"] = started
            rec["micro_batches"] = self.streams.batches - b0
        h, n = self.table_hash(df.columns, [tuple(r) for r in rows])
        rec.update(cols=list(df.columns), hash=h, n=n)
        # per-query persist() blocks would otherwise pile up across ops
        self.spark.catalog.clearCache()

    def round(self, rng: random.Random, phase: str, traced: bool = False) -> list[dict]:
        return [
            self.run_op(phase, traced=traced, name=name)
            for name in rng.sample(QUERIES, len(QUERIES))
        ]

    def window(self, seconds: float) -> float:
        """``seconds / ROUND_S`` whole seeded rounds: a count fixed by
        ``--seconds``, not by the clock, so every run times the same
        multiset of queries."""
        start = time.perf_counter()
        for _ in range(max(1, round(seconds / ROUND_S))):
            self.round(self.rng, "timed")
        return time.perf_counter() - start


WORKLOADS = {
    "batch_classify": BatchClassify,
    "fetch_infer": FetchInfer,
    "query_mix": QueryMix,
}


def warm_workers(spark) -> None:
    """One job with a Python-worker task on every core."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 64 * n, numPartitions=n).mapInPandas(_identity, "id long").collect()


def warmup(run: Run) -> None:
    """Untimed: the first execution of each query (codegen, JIT), or
    the first ``warmup_ops`` ops of the batch workloads."""
    if isinstance(run, QueryMix):
        run.round(run.rng, "warmup")
    else:
        for _ in range(run.warmup_ops):
            run.run_op("warmup")


def traced_pass(run: Run, seconds: float) -> None:
    """Untraced and traced ops under the same conditions (their median
    ratio is the tracing overhead), then the per-layer passes."""
    if isinstance(run, QueryMix):
        plain = {r["name"]: r.get("t") for r in run.round(run.rng, "timed") if not r["error"]}
        traced = run.round(run.rng, "traced", traced=True)
        ratios = [r["t"] / plain[r["name"]] for r in traced if not r["error"] and plain.get(r["name"])]
        overhead = statistics.median(ratios) - 1 if ratios else 0.0
        ok = [r for r in traced if not r["error"]]
        for r in ok:
            run.record("queries.build_s", r["build"])
            run.record("queries.exec_s", r["exec"])
        for key, src in (
            ("queries.jobs_per_query", "jobs"),
            ("queries.tasks_per_query", "tasks"),
            ("queries.shuffle_read_bytes", "shuffle_read_bytes"),
            ("queries.spill_bytes", "spill_bytes"),
        ):
            run.record(key, statistics.fmean(r["executor"][src] for r in ok) if ok else 0)
        streams = [r for r in ok if r["name"] in STREAMING_QUERIES]
        for r in streams:
            run.record("streaming.query_s", r["t"])
            run.record("streaming.micro_batches", r["micro_batches"])
    else:
        run.window(seconds, alternate_traced=True)
        plain = [r["t"] for r in run.ops if r["phase"] == "timed" and not r["error"]]
        traced = [r["t"] for r in run.ops if r["phase"] == "traced" and not r["error"]]
        overhead = statistics.median(traced) / statistics.median(plain) - 1 if plain and traced else 0.0
        for rep in range(LAYER_REPS):
            try:
                with run.tracer.span("layer_pass", op=len(run.ops)):
                    run.layer_pass(rep)
            except Exception as exc:  # noqa: BLE001 - report, keep the run
                run.ops.append({"i": len(run.ops), "phase": "layers", "error": _op_error(exc)})
    run.record("trace.overhead_frac", overhead)
    run.executor_metrics()


def main(cfg_path: str) -> int:
    with open(cfg_path, encoding="utf-8") as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["repo_root"])
    tracer = Tracer(bool(cfg["trace"]))
    with tracer.span("setup"):
        with tracer.span("session.start") as s_start:
            from swat_mapreduce_spark.session import get_spark

            spark = get_spark(f"perfbench-{cfg['workload']}")
        with tracer.span("session.warmup") as s_warm:
            from swat_mapreduce_spark.queries import load_all

            registry = load_all()
            warm_workers(spark)
    ready = time.time()
    run = WORKLOADS[cfg["workload"]](cfg, spark, registry, tracer)
    run.record("session.start_s", s_start["dur"])
    run.record("session.warmup_s", s_warm["dur"])
    warmup(run)
    loop_s = None
    if tracer.enabled:
        traced_pass(run, cfg["seconds"])
    else:
        loop_s = run.window(cfg["seconds"])
    result = {
        "ready": ready,
        "cores": run.cores,
        "loop_s": loop_s,
        "ops": run.ops,
        "layers": run.layers,
        "peak_rss_mb": peak_rss_mb(os.getpid()),
    }
    if tracer.enabled:
        tracer.write(cfg["trace_path"])
    with open(cfg["result_path"], "w", encoding="utf-8") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
