"""Benchmark of the orders ETL pipeline and the similarity scorer.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 24 --trace 0

Workloads (one process, ``local[<cores - 1>]``, one closed-loop client; after
the cold first operation, ``WARMUP_S`` of untimed operations, then
``--seconds`` of measured ones):

- ``etl_bulk``: one dirty batch at 50x the reference size (125,100
  orders rows, 100k products), ``process()`` + ``write(replace)`` to
  parquet, repeated. Per-row work dominates.
- ``similarity_lookup``: lookups over the ``etl_bulk`` products dimension
  (F5 planted); each operation is ``top_k_similar(k=10)`` then
  ``find_similar_products`` over 8 candidates, for a uniform target.

``--trace 0`` times the workload untraced and prints the end-to-end
metrics; ``--trace 1`` runs it traced (see spans.py) and prints the
per-layer metrics. Every run checks the outputs outside the timed region
and prints, as its last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. A full record (dirt census,
host-noise canary, spans) is written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s is their median
# untimed operations after the first, before the measured loop: a bulk
# batch keeps getting faster for minutes after the cold one (the JIT), so
# the warm-up takes the steep start and the measured loop, a median over
# many batches, the slow tail; lookups get ~15-25 % faster over their
# first ~20 s
WARMUP_S = {"etl_bulk": 8.0, "similarity_lookup": 10.0}
BULK_ORDERS = 50 * gen.REFERENCE_ORDERS
BULK_PRODUCTS = 100_000
DRIVER_MEMORY = "3g"
LOOKUP_K = 10
LOOKUP_CANDIDATES = 8
PREFIX_ROUNDS = 3  # traced rounds over the pipeline prefixes
TRACED_OPS = 3  # traced (and untraced) operations at least in a traced run
WORKLOADS = ["etl_bulk", "similarity_lookup"]

END_TO_END = {
    "setup_s": "s",
    "first_op_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}
# per-layer metric -> (unit, workload it is measured on); each should move
# LAYER_MOVES on that workload. A layer idle on a workload reports 0.
LAYER_MOVES = ("op_p50_ms", "rows_per_s")
PER_LAYER = {
    "sources.csv.scan_s": ("s", "etl_bulk"),
    "functions.repair.self_s": ("s", "etl_bulk"),
    "functions.repair.values_repaired": ("count", "etl_bulk"),
    "operators.dedup.self_s": ("s", "etl_bulk"),
    "operators.dedup.keep_ratio": ("ratio", "etl_bulk"),
    "operators.dedup.shuffle_bytes": ("bytes", "etl_bulk"),
    "functions.names.regex_s": ("s", "etl_bulk"),
    "functions.names.arrow_udf_s": ("s", "etl_bulk"),
    "pipeline.orders_pipeline.join_self_s": ("s", "etl_bulk"),
    "pipeline.orders_pipeline.join_hit_ratio": ("ratio", "etl_bulk"),
    "sinks.writers.write_self_s": ("s", "etl_bulk"),
    "sinks.writers.files_out": ("count", "etl_bulk"),
    "sinks.writers.bytes_out": ("bytes", "etl_bulk"),
    "sinks.writers.bytes_out_per_in": ("ratio", "etl_bulk"),
    "session.spill_bytes": ("bytes", "etl_bulk"),
    "pipeline.orders_pipeline.construct_s": ("s", "etl_bulk"),
    "pipeline.orders_pipeline.construct_jobs": ("count", "etl_bulk"),
    "plans.catalyst_s": ("s", "etl_bulk"),
    "session.jobs": ("count", "etl_bulk"),
    "session.tasks": ("count", "etl_bulk"),
    "operators.similarity.products_rederive_s": ("s", "similarity_lookup"),
    "operators.similarity.score_self_s": ("s", "similarity_lookup"),
    "operators.similarity.rows_scored": ("count", "similarity_lookup"),
    "operators.similarity.jobs_per_lookup": ("count", "similarity_lookup"),
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least 10
    samples beyond it; the median while that percentile is below 50
    (fewer than 21 samples)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 21:
        return statistics.median(xs), 50.0
    return xs[n - 11], 100.0 * (n - 11) / (n - 1)


def canary(spark) -> dict:
    """Host-noise probe (after bench.py's): a fixed single-thread numpy
    matmul (compute), a fixed sweep over a 64 MB array (memory bandwidth,
    which the pipeline shares with other tenants) and a fixed Spark
    range-sum; each the fastest of 3 tries, so the JVM's own leftover GC
    and compilation work does not read as host noise."""
    import numpy as np

    def fastest(fn) -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return best

    a = np.arange(512 * 512, dtype=np.float64).reshape(512, 512) / 1e6
    eye = np.eye(512)
    big = np.ones(8 * 1024 * 1024)
    return {
        "numpy_s": fastest(lambda: [a @ eye for _ in range(8)]),
        "mem_s": fastest(lambda: [big.sum() for _ in range(8)]),
        "jvm_s": fastest(
            lambda: spark.range(20_000_000).selectExpr("sum(id * 3 + 1) as s").collect()
        ),
    }


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    """One benchmark run: inputs, Spark session, workload loop, checks."""

    def __init__(self, args):
        self.t_zero = time.perf_counter()
        self.args = args
        self.workload = args.workload
        self.trace = bool(args.trace)
        self.work = os.path.join(os.getcwd(), ".perfbench_work", f"{self.workload}-{os.getpid()}")
        # one core is left to the JIT and GC threads, the Python UDF workers
        # and other tenants: on 4 cores local[3] is as fast as local[4] and
        # slows about half as much when another process takes a core
        self.cores = max(1, len(os.sched_getaffinity(0)) - 1)
        self.spark = None
        self.etl = None
        self.tracer = None
        self.tracing = False
        self.f5_got: dict = {}
        self.errors: list[str] = []
        self.failed = 0
        self.record: dict = {
            "workload": self.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": self.trace,
            "cores": self.cores,
        }

    # -- inputs -------------------------------------------------------------

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate_main_inputs(self) -> None:
        """The run's main input pair, written by a child process so the
        generator's memory does not count in this process's peak RSS."""
        if self.workload == "etl_bulk":
            n_orders, n_products = BULK_ORDERS, BULK_PRODUCTS
        else:  # the etl_bulk products dimension; orders at reference size
            n_orders, n_products = gen.REFERENCE_ORDERS, BULK_PRODUCTS
        self.orders_csv, self.products_csv = self.path("orders.csv"), self.path("products.csv")
        out = subprocess.run(
            [
                sys.executable,
                os.path.join(HERE, "gen.py"),
                "--seed", str(self.args.seed),
                "--orders", str(n_orders),
                "--products", str(n_products),
                "--orders-csv", self.orders_csv,
                "--products-csv", self.products_csv,
            ],
            check=True,
            capture_output=True,
            text=True,
            timeout=120,
        )
        self.census = json.loads(out.stdout)
        self.record["census"] = self.census

    # -- session ------------------------------------------------------------

    def start_session(self):
        from etl_orders_to_bq_spark.session import get_spark

        conf = {
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # a fixed-size heap: no resize decisions to vary RSS and timings
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} -Xms{DRIVER_MEMORY}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.path("eventlog")
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        return get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )

    def setup_once(self) -> float:
        """Session start, pipeline construction and a warm-up job; for
        lookups also the one untimed ``process()``."""
        from etl_orders_to_bq_spark.pipeline import OrdersEtl

        t0 = time.perf_counter()
        self.spark = self.start_session()
        self.etl = OrdersEtl(
            self.spark, self.orders_csv, self.products_csv, table_name=self.path("out")
        )
        self.spark.range(1000).selectExpr("sum(id)").collect()
        if self.workload == "similarity_lookup":
            self.etl.process()
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- workload operations -------------------------------------------------

    def prepare_op(self):
        """Untimed preparation of the next operation; returns the callable
        and its input rows."""
        etl = self.etl
        if self.workload == "etl_bulk":
            def op():
                etl.process()
                etl.write(if_exists="replace")
            return op, BULK_ORDERS
        # similarity_lookup: one operation is a top-k lookup and an
        # 8-candidate lookup for the same target, so every operation does
        # the same mix of work
        from etl_orders_to_bq_spark.operators.similarity import top_k_similar

        target = int(self.product_ids[self.rng.integers(0, self.product_ids.size)])
        cands = [int(c) for c in self.rng.choice(self.product_ids, LOOKUP_CANDIDATES)]

        def op():
            t0 = time.perf_counter()
            with self.span("operators.similarity.top_k_similar"):
                df = top_k_similar(etl.products_df, target, k=LOOKUP_K)
                rows = df.collect()
            t1 = time.perf_counter()
            got = etl.find_similar_products(target, cands)
            self.lookup_s["top_k"].append(t1 - t0)
            self.lookup_s["similar"].append(time.perf_counter() - t1)
            self.last_topk_df = df
            top = [(int(r["product_id"]), float(r["score"])) for r in rows]
            self.lookups += [("top_k", target, None, top), ("similar", target, cands, got)]

        return op, 2 * BULK_PRODUCTS

    def span(self, name: str):
        """A span while a traced operation runs, else nothing."""
        return self.tracer.span(name) if self.tracing else contextlib.nullcontext()

    def run_op(self, i: int, traced: bool = False) -> tuple[float, int]:
        """(seconds, input rows) of operation ``i``; rows is 0 when the
        operation failed."""
        op, rows = self.prepare_op()
        t0 = time.perf_counter()
        try:
            if traced:
                self.tracer.batch = i
                self.tracing = True
                with self.tracer.patch(), self.tracer.span("op"):
                    op()
            else:
                op()
        except Exception:  # a failed operation counts; the run goes on
            self.failed += 1
            rows = 0
            log(traceback.format_exc())
        finally:
            self.tracing = False
            self.attempted += 1
        return time.perf_counter() - t0, rows

    # -- the run ---------------------------------------------------------------

    def execute(self) -> dict:
        import numpy as np

        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.path("tmp"))
        # keep every temporary file inside the checkout: Python's, the
        # JVMs' (java.io.tmpdir below) and their perf-data files
        os.environ["TMPDIR"] = tempfile.tempdir = self.path("tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        self.generate_main_inputs()
        self.lookups: list = []
        self.lookup_s: dict = {"top_k": [], "similar": []}
        self.rng = np.random.default_rng([self.args.seed, 7])
        self.product_ids = np.array([])
        if self.workload == "similarity_lookup":
            ids = oracle.read_products(self.products_csv)["product_id"]
            self.product_ids = ids.to_numpy(np.int64)
        self.attempted = 0

        # the first set-up starts the JVM and the first operation is cold,
        # as for a command-line user; the later set-ups restart the session
        # in the running JVM, so setup_s (their median) is a warm restart
        phase = self.record["phase_s"] = {}

        def mark(name: str) -> None:
            phase[name] = time.perf_counter() - self.t_zero

        mark("inputs")
        setups = [self.setup_once()]
        first, _ = self.run_op(0)
        mark("first_op")
        for _ in range(0 if self.trace else SETUPS - 1):
            self.spark.stop()
            setups.append(self.setup_once())
        self.record["setup_runs_s"] = setups
        # before the warm-up, so the operations after it do not pay for it
        canaries = [canary(self.spark)]
        mark("setups")

        i, warm_end = 1, time.perf_counter() + WARMUP_S[self.workload]
        while time.perf_counter() < warm_end:  # untimed: JIT and worker warm-up
            self.run_op(i)
            i += 1
        mark("warm_up")
        untraced, traced = [], []
        busy, rates = 0.0, []
        if self.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark)
        i0 = i
        while busy < self.args.seconds or (self.trace and i - i0 < 2 * TRACED_OPS):
            use_trace = self.trace and (i - i0) % 2 == 0
            dt, rows = self.run_op(i, traced=use_trace)
            i += 1
            busy += dt
            if rows:
                (traced if use_trace else untraced).append(dt)
                if not use_trace:
                    rates.append(rows / dt)
        mark("measured")
        canaries.append(canary(self.spark))
        if self.workload == "similarity_lookup":
            self.f5_got = self.etl.find_similar_products(
                gen.F5_TARGET, list(gen.F5_GOLDEN)
            )
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        peak = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")

        self.record["canary"] = canaries
        # labelled on the host probes; the JVM probe also moves with the
        # Spark driver's own JIT and GC state
        self.record["host_noisy"] = any(
            max(c[k] for c in canaries) > 1.3 * min(c[k] for c in canaries)
            for k in ("numpy_s", "mem_s")
        )
        timed = untraced or [busy]  # no operation succeeded: the run is incorrect
        p50 = statistics.median(timed) * 1e3
        tail_ms, tail_pct = tail([s * 1e3 for s in timed])
        self.record.update(
            op_samples_s={"untraced": untraced, "traced": traced},
            op_tail_percentile=tail_pct,
            op_samples=len(untraced),
        )
        e2e = {
            "setup_s": statistics.median(setups),
            "first_op_s": first,
            "op_p50_ms": p50,
            "op_tail_ms": tail_ms,
            # the median operation's rate: a mean would move with the
            # odd slow operation (a GC pause, another tenant)
            "rows_per_s": statistics.median(rates) if rates else 0.0,
            "peak_rss_mb": peak,
        }
        if self.trace:
            layers = self.trace_layers()
        self.stop_session()
        self.check()
        mark("checked")
        if self.trace:
            self.finish_trace(layers, traced, untraced)
            metrics = layers
            units = {k: v[0] for k, v in PER_LAYER.items()}
        else:
            metrics = e2e
            units = END_TO_END
        self.record["metrics"] = metrics
        self.record["aliases"] = self.aliases(e2e)
        self.record["errors"] = self.errors
        return {
            "correct": not self.errors,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }

    def aliases(self, e2e: dict) -> dict:
        """The end-to-end metrics under their workload-specific names."""
        if self.workload != "similarity_lookup":
            return {
                "batch_p50_ms": e2e["op_p50_ms"],
                "batch_tail_ms": e2e["op_tail_ms"],
                "first_batch_s": e2e["first_op_s"],
            }
        out = {"lookups_per_s": e2e["rows_per_s"] / BULK_PRODUCTS}
        for kind, times in self.lookup_s.items():  # first and warm-up included
            out[f"lookup_{kind}_p50_ms"] = statistics.median(times) * 1e3 if times else None
        return out

    # -- checks ----------------------------------------------------------------

    def check(self) -> None:
        """Compare outputs with the oracles; record every mismatch."""
        if self.failed:
            self.errors.append(f"{self.failed} operations failed")
        if self.workload == "similarity_lookup":
            self.errors += check_lookups(self.products_csv, self.lookups, self.f5_got)
        else:
            self.errors += check_etl_output(self.path("out"), self.orders_csv, self.products_csv)

    # -- traced run ------------------------------------------------------------

    def trace_layers(self) -> dict:
        """Per-layer metrics (before the session stops)."""
        layers = {k: 0.0 for k in PER_LAYER}
        if self.workload == "similarity_lookup":
            layers.update(self.trace_similarity())
        else:
            layers.update(self.trace_etl())
        return layers

    def trace_etl(self) -> dict:
        """Layer self times from noop-forcing successive prefixes of the
        pipeline, interleaved over rounds; the last prefix is a full
        ``process()`` + ``write()``. A layer's self time is the median over
        rounds of its prefix's time minus the previous prefix's time in the
        same round. Each round ends with a traced operation, so the layer
        sum is checked against operations timed in the same stretch of time
        as the prefixes. Each prefix first runs once, untimed, on a
        reference-size input, so no timed round pays code generation for a
        new plan shape."""
        from pyspark.sql import functions as F

        wo, wp = self.path("warm-orders.csv"), self.path("warm-products.csv")
        gen.generate([self.args.seed, 1], gen.REFERENCE_ORDERS, gen.REFERENCE_PRODUCTS, wo, wp)
        tr = self.tracer
        for _, force in self.prefixes(wo, wp):
            force()
        prefixes = self.prefixes(self.orders_csv, self.products_csv)
        times = {name: [] for name, _ in prefixes}
        catalyst, self.round_ops = [], []
        # traced like the traced operations, so the self times add up to a
        # traced full batch
        with tr.patch():
            for r in range(PREFIX_ROUNDS):
                tr.batch = f"prefix-{r}"
                for name, force in prefixes:
                    with tr.span("prefix:" + name) as s:
                        force()
                    times[name].append(s["end"] - s["start"])
                op, _ = self.prepare_op()
                with tr.span("op") as s:
                    op()
                self.round_ops.append(s["end"] - s["start"])
                df = self.prefix_etl.process()
                t0 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                catalyst.append(time.perf_counter() - t0)
        out, prev = {}, [0.0] * PREFIX_ROUNDS
        for name, _ in prefixes:
            out[name] = statistics.median(t - p for t, p in zip(times[name], prev))
            prev = times[name]
        self.record["prefix_s"] = times
        self.layer_sum_s = sum(out.values())
        out["plans.catalyst_s"] = statistics.median(catalyst)
        r = self.prefix_raw().select(
            F.sum(F.col("sum").contains(",").cast("int")).alias("c"),
            F.sum(F.col("product_id").rlike(r"\D").cast("int")).alias("d"),
        ).first()
        out["functions.repair.values_repaired"] = float(r["c"] + r["d"])
        return out

    def prefixes(self, orders_csv: str, products_csv: str) -> list:
        """(layer self-time metric, force) for each successive prefix of
        ``process()`` + ``write()`` over the given files, built from the
        pipeline's public functions in the order ``process()`` uses."""
        from etl_orders_to_bq_spark.functions.names import clean_name
        from etl_orders_to_bq_spark.operators.dedup import first_occurrence_dedup
        from etl_orders_to_bq_spark.pipeline import OrdersEtl
        from etl_orders_to_bq_spark.pipeline.orders_pipeline import NAME_COLUMNS
        from etl_orders_to_bq_spark.schemas import ORDERS_COLUMNS, ORDERS_RAW_SCHEMA
        from etl_orders_to_bq_spark.sources.csv import INGEST_ORDER_COL, read_csv_raw

        spark = self.spark
        etl = OrdersEtl(spark, orders_csv, products_csv, table_name=self.path("prefix-out"))

        def raw():
            return read_csv_raw(
                spark, orders_csv, ORDERS_RAW_SCHEMA, columns=ORDERS_COLUMNS, with_ingest_order=True
            )

        def dedup():
            return first_occurrence_dedup(
                etl.cast_orders(raw()),
                keys=["order_source_id", "product_id"],
                order_col=INGEST_ORDER_COL,
            )

        def names(unescape: bool):
            df = dedup()
            for c in NAME_COLUMNS:
                df = df.withColumn(c, clean_name(c, unescape=unescape))
            return df.drop(INGEST_ORDER_COL)

        def full_batch():
            etl.process()
            etl.write(if_exists="replace")

        self.prefix_etl, self.prefix_raw = etl, raw
        return [
            ("sources.csv.scan_s", lambda: noop(raw())),
            ("functions.repair.self_s", lambda: noop(etl.cast_orders(raw()))),
            ("operators.dedup.self_s", lambda: noop(dedup())),
            ("functions.names.regex_s", lambda: noop(names(False))),
            ("functions.names.arrow_udf_s", lambda: noop(names(True))),
            ("pipeline.orders_pipeline.join_self_s", lambda: noop(etl.process())),
            ("sinks.writers.write_self_s", full_batch),
        ]

    def trace_similarity(self) -> dict:
        """Lookup cost split: re-deriving the products dimension from the
        CSV, then scoring; rows scored read from the executed plan. Each
        round times the three parts of one operation on the F5 target."""
        from etl_orders_to_bq_spark.operators.similarity import top_k_similar
        from spans import join_output_rows

        tr, etl = self.tracer, self.etl
        times = {"products_rederive": [], "top_k": [], "similar": []}
        for r in range(3):
            tr.batch = f"prefix-{r}"
            with tr.span("prefix:operators.similarity.products_rederive_s") as s:
                noop(etl.products_df)
            times["products_rederive"].append(s["end"] - s["start"])
            with tr.span("prefix:operators.similarity.top_k_similar") as s:
                top_k_similar(etl.products_df, gen.F5_TARGET, k=LOOKUP_K).collect()
            times["top_k"].append(s["end"] - s["start"])
            with tr.span("prefix:operators.similarity.find_similar_products") as s:
                etl.find_similar_products(gen.F5_TARGET, list(gen.F5_GOLDEN))
            times["similar"].append(s["end"] - s["start"])
        derive = statistics.median(times["products_rederive"])
        self.record["prefix_s"] = times
        return {
            "operators.similarity.products_rederive_s": derive,
            "operators.similarity.score_self_s": statistics.median(times["top_k"]) - derive,
            "operators.similarity.rows_scored": float(join_output_rows(self.last_topk_df)),
        }

    def finish_trace(self, layers: dict, traced: list[float], untraced: list[float]) -> None:
        """After the session stopped: event-log bytes, span-derived
        metrics, output-derived ratios; writes the spans JSON."""
        from spans import event_log_totals

        spans = self.tracer.export(self.t_zero, event_log_totals(self.path("eventlog")))

        def med(values):
            return float(statistics.median(values)) if values else 0.0

        ops = [s for s in spans if s["name"] == "op"]
        if self.workload == "similarity_lookup":
            lookups = [
                s
                for s in spans
                if s["name"]
                in ("operators.similarity.top_k_similar", "pipeline.orders_pipeline.find_similar_products")
            ]
            layers["operators.similarity.jobs_per_lookup"] = med([s["jobs"] for s in lookups])
        else:
            proc = [s for s in spans if s["name"] == "pipeline.orders_pipeline.process"]
            layers["pipeline.orders_pipeline.construct_s"] = med([s["end_s"] - s["start_s"] for s in proc])
            layers["pipeline.orders_pipeline.construct_jobs"] = med([s["jobs"] for s in proc])
            layers["session.jobs"] = med([s["jobs"] for s in ops])
            layers["session.tasks"] = med([s["tasks"] for s in ops])
            layers["session.spill_bytes"] = med([s["spill_bytes"] for s in ops])
            layers["operators.dedup.shuffle_bytes"] = med(
                [s["shuffle_bytes"] for s in spans if s["name"] == "prefix:operators.dedup.self_s"]
            )
            layers.update(self.output_ratios())
        overhead = {
            "traced_op_p50_ms": med(traced) * 1e3,
            "untraced_op_p50_ms": med(untraced) * 1e3,
        }
        overhead["overhead_frac"] = overhead["traced_op_p50_ms"] / overhead["untraced_op_p50_ms"] - 1
        self.record["tracing_overhead"] = overhead
        if self.workload == "etl_bulk" and traced:  # else the run failed
            # the prefixes and the traced operations are separate
            # measurements; the spread is the traced operations' own
            ops = traced + self.round_ops
            gap = {
                "layer_sum_ms": self.layer_sum_s * 1e3,
                "traced_op_p50_ms": statistics.median(ops) * 1e3,
                "traced_op_samples_ms": [t * 1e3 for t in ops],
                "spread_ms": (max(ops) - min(ops)) * 1e3,
            }
            gap["within_spread"] = abs(gap["layer_sum_ms"] - gap["traced_op_p50_ms"]) <= gap["spread_ms"]
            self.record["layer_sum_vs_traced_op"] = gap
            if not gap["within_spread"]:
                log(
                    "layer-sum check failed: layer self times add up to "
                    f"{gap['layer_sum_ms']:.0f} ms, traced op p50 {gap['traced_op_p50_ms']:.0f} ms, "
                    f"traced spread {gap['spread_ms']:.0f} ms"
                )
        self.record["per_layer_moves"] = {
            k: {"workload": w, "moves": list(LAYER_MOVES)} for k, (_, w) in PER_LAYER.items()
        }
        self.record["spans"] = spans

    def output_ratios(self) -> dict:
        """Sink and join figures from the written table."""
        out = self.path("out")
        files = [f for f in os.listdir(out) if f.endswith(".parquet")]
        nbytes = sum(os.path.getsize(os.path.join(out, f)) for f in files)
        table = oracle.read_output(out)
        in_bytes = self.census["orders_bytes"] + self.census["products_bytes"]
        return {
            "sinks.writers.files_out": float(len(files)),
            "sinks.writers.bytes_out": float(nbytes),
            "sinks.writers.bytes_out_per_in": nbytes / in_bytes,
            "operators.dedup.keep_ratio": len(table) / self.census["rows"],
            "pipeline.orders_pipeline.join_hit_ratio": float(table["price"].notna().mean()),
        }


def check_etl_output(table_path: str, orders_csv: str, products_csv: str) -> list[str]:
    """The written table must equal the pandas oracle over the input files
    (row count and value hash), and carry the F3 name goldens."""
    import pandas as pd

    errors = []
    got = oracle.read_output(table_path)
    if list(got.columns) != oracle.OUTPUT_COLUMNS:
        return [f"output columns {list(got.columns)}"]
    rows, h = oracle.frame_digest(oracle.pandas_oracle(orders_csv, products_csv))
    got_rows, got_h = oracle.frame_digest(got)
    if got_rows != rows:
        errors.append(f"output rows {got_rows} != oracle {rows}")
    elif got_h != h:
        errors.append("output values differ from the oracle (hash mismatch)")
    # the F3 rows lead the orders file, each with a key of its own
    head = pd.read_csv(orders_csv, nrows=len(gen.F3_GOLDEN), dtype=str)
    for _, r in head.iterrows():
        osid, pid, name = int(r["order_source_id"]), int(r["product_id"]), gen.F3_GOLDEN[r["name"]]
        hit = got[(got["order_source_id"] == osid) & (got["product_id"] == pid)]
        if hit["name"].tolist() != [name]:
            errors.append(f"F3 {name!r} at ({osid}, {pid}): got {hit['name'].tolist()}")
    return errors


def check_lookups(products_csv: str, lookups: list, f5_got: dict) -> list[str]:
    """Every lookup must match the numpy scorer; F5 must match its golden."""
    scorer = oracle.Scorer(oracle.read_products(products_csv))
    errors = []
    for kind, target, cands, got in lookups:
        want = (
            scorer.top_k(target, LOOKUP_K)
            if kind == "top_k"
            else scorer.similar(target, cands)
        )
        if got != want:
            errors.append(f"{kind} lookup of {target}: got {got} want {want}")
    if f5_got != gen.F5_GOLDEN:
        errors.append(f"F5 golden: got {f5_got}")
    return errors


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(os.getcwd(), "etl_orders_to_bq_spark", "__init__.py")):
        log("run from the root of a checkout: etl_orders_to_bq_spark/ not found")
        return 2
    sys.path.insert(0, os.getcwd())
    run = Run(args)
    try:
        result = run.execute()
    finally:
        run.stop_session()
        shutil.rmtree(run.work, ignore_errors=True)
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    kind = "trace" if args.trace else "run"
    record_path = os.path.join(out_dir, f"{kind}-{args.workload}-seed{args.seed}.json")
    with open(record_path, "w", encoding="utf-8") as fh:
        json.dump({**run.record, "result": result}, fh, indent=1, default=str)
    summary = {k: v for k, v in run.record.items() if k not in ("spans", "op_samples_s")}
    print(json.dumps(summary, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
