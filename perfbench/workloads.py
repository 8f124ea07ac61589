"""The three workloads and the op runner they share.

Every op is one closed-loop call into the engine, timed as a whole; with
tracing on, its layers are timed as child spans and its Spark jobs are
tagged with a job group (``t<op>:<phase>``) that the event log is later
folded by. Outputs are kept and checked after the timed phase.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from collections import defaultdict
from types import SimpleNamespace

import datagen
from tracing import fold_event_log, make_progress_listener, read_event_logs, self_times


#: timed passes a run makes at least, so ``wall_s`` is a median of two
MIN_PASSES = 2

#: per-layer metrics BENCHMARK.json declares, in its order: times measured
#: on every workload, and counts (a count reads an exact 0 on a workload that
#: does no such work)
LAYER_METRICS = (
    "session.start_s", "spark.floor_s", "spark.plan_s", "spark.exec_s",
    "spark.executor_run_s", "spark.gc_s",
    "queries.build_jobs", "plans.exchanges", "spark.exec_jobs", "spark.stages",
    "spark.tasks", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "io.trained_builds", "io.cached_bytes",
    "etl.jobs", "etl.tasks", "etl.output_bytes", "etl.output_files",
    "streaming.batches", "streaming.empty_batch_ratio", "streaming.state_rows",
    "streaming.state_tasks", "streaming.input_rows",
)
#: per-layer times only some workloads have: reported and written to the
#: trace, not declared, since on the other workloads they would read 0 on
#: every run, which is not a measured time
WORKLOAD_TIMES = (
    "queries.build_s", "io.trained_build_s", "etl.run_s", "etl.reload_s",
    "sources.decode_s", "operators.naics_s", "operators.wages_s",
    "operators.timeseries_s", "streaming.source_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.state_commit_ms", "streaming.tail_s", "python.udf_s",
)


def job_owner(run_owner: dict[str, str]):
    """The op a raw ``spark.jobGroup.id`` bills: a stream's run id bills
    the drain that ran it, timed-op groups (``t<op>:<phase>``) bill
    themselves, and warm-up (``w...``) and probe groups bill nothing."""

    def owner(g):
        g = run_owner.get(g, g)
        return g if g and g.startswith("t") else None

    return owner


def _dir_bytes(path: str) -> tuple[int, int]:
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    return sum(os.path.getsize(f) for f in files), len(files)


class Context:
    """Session lifecycle, op timing, and (traced) layer accounting."""

    def __init__(self, tracer, out_dir: str, seed: int) -> None:
        self.tr = tracer
        self.traced = tracer.enabled
        self.out_dir = out_dir
        self.seed = seed
        self.spark = None
        self.timed = False
        self.ops: list[dict] = []
        self.session_start_s = 0.0
        self.layer: dict[str, float] = defaultdict(float)
        self.unmeasurable: dict[str, str] = {}
        self.event_dir = os.path.join(out_dir, f"eventlog-{os.getpid()}")
        self.listener = None
        self.n_passes = 0

    # -- session ----------------------------------------------------------

    def start_session(self) -> None:
        """Start the engine's session (this launches the JVM)."""
        from jp_qcew_spark.session import get_spark

        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        }
        if self.traced:
            os.makedirs(self.event_dir, exist_ok=True)
            extra |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
            }
        cpus = len(os.sched_getaffinity(0))
        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{cpus}]",
            shuffle_partitions=cpus, extra_conf=extra,
        )
        self.session_start_s = time.perf_counter() - t

    def begin_timed(self) -> None:
        self.timed = True
        if self.traced:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            self.listener = make_progress_listener()
            self.spark.streams.addListener(self.listener)

    def end_timed(self) -> None:
        """Jobs run after the timed phase (the floor and decode probes) go
        under a group that bills no op."""
        self._group("probe")

    def stop(self) -> None:
        if self.spark is not None:
            if self.listener is not None:
                time.sleep(1.0)  # let in-flight progress events arrive
                self._attribute_batches(self.listener.take())
            self.spark.stop()
            self.spark = None

    @staticmethod
    def shutdown_jvm() -> None:
        """End the driver JVM (it exits when its stdin closes) and wait for
        it, so no process the run started outlives it."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    # -- ops --------------------------------------------------------------

    def _group(self, gid: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(gid, gid)

    def op(self, name: str, family: str, build, keep=True, **attrs) -> dict:
        """Run one op: ``build()`` returns a DataFrame (planned and
        collected here) or an already-materialized value. Failures are
        recorded, never raised."""
        from jp_qcew_spark import io

        rec = {"name": name, "family": family, "timed": self.timed, "ok": True, **attrs}
        gid = f"{'t' if self.timed else 'w'}{len(self.ops)}"
        rec["gid"] = gid
        self.ops.append(rec)
        if self.traced:
            trained0 = dict(io.TRAINED_BUILD_SECONDS)
        df = None
        rec["epoch0"] = time.time()
        t0 = time.perf_counter()
        with self.tr.span("op", op=name) as root:
            try:
                with self.tr.span(family) as bspan:
                    self._group(gid + ":build")
                    value = build()
                if hasattr(value, "collect"):
                    df = value
                    if self.traced:
                        with self.tr.span("spark.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with self.tr.span("spark.exec"):
                        self._group(gid + ":exec")
                        value = df.collect()
                    rec["cols"] = df.columns
                if keep:
                    rec["value"] = value
            except Exception as e:  # noqa: BLE001 - recorded as a failed op
                rec["ok"] = False
                first_line = (str(e).splitlines() or [""])[0]
                rec["problem"] = f"{type(e).__name__}: {first_line[:300]}"
                df = None
        rec["s"] = time.perf_counter() - t0
        rec["epoch1"] = time.time()
        if self.traced:
            rec["span"], rec["build_span"] = root, bspan
            self._after_op(rec, df, trained0)
        return rec

    def _after_op(self, rec: dict, df, trained0: dict) -> None:
        """Traced-only per-op counters, read after the op's wall closed."""
        from jp_qcew_spark import io
        from jp_qcew_spark.plans.inspect import count_exchanges

        if df is not None:
            try:
                rec["exchanges"] = count_exchanges(df)
            except Exception:  # noqa: BLE001 - plan text unavailable
                rec["exchanges"] = 0
        builds = {
            k: v for k, v in io.TRAINED_BUILD_SECONDS.items() if trained0.get(k) != v
        }
        rec["trained_builds"] = len(builds)
        rec["trained_build_s"] = sum(builds.values())
        jsc = self.spark.sparkContext._jsc.sc()
        rec["cached_bytes"] = sum(
            i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo()
        )
        collector = getattr(self.spark, "_profiler_collector", None)
        if collector is not None:
            rec["udf_s"] = sum(s.total_tt for s in collector._perf_profile_results.values())
            self.spark.profile.clear(type="perf")

    def _attribute_batches(self, progress: list[dict]) -> None:
        """Nest each streaming micro-batch under the op whose wall
        contains it (drains run synchronously inside the builder)."""
        timed = [o for o in self.ops if o["timed"] and "span" in o]
        for p in progress:
            for o in timed:
                if o["epoch0"] <= p["start_epoch"] <= o["epoch1"]:
                    o.setdefault("batches", []).append(p)
                    o.setdefault("run_ids", set()).add(p["run_id"])
                    start = o["span"]["start"] + (p["start_epoch"] - o["epoch0"])
                    dur = p["duration_ms"].get("triggerExecution", 0) / 1000.0
                    self.tr.add("streaming.batch", start, start + dur, o["build_span"],
                                batch=p["batch"])
                    break

    # -- traced extras ----------------------------------------------------

    def measure_floor(self) -> float:
        """The trivial-job floor bench.py calibrates: median of 5."""
        from pyspark.sql import functions as F

        runs = []
        for _ in range(5):
            t = time.perf_counter()
            self.spark.range(32).groupBy((F.col("id") % 4).alias("k")).count().collect()
            runs.append(time.perf_counter() - t)
        return statistics.median(runs)

    def layer_metrics(self) -> dict[str, float]:
        """Fold the traced run into per-pass layer metrics (after stop)."""
        timed = [o for o in self.ops if o["timed"]]
        passes = max(1, self.n_passes)
        run_owner = {r: o["gid"] for o in timed for r in o.get("run_ids", ())}
        folded = fold_event_log(read_event_logs(self.event_dir), job_owner(run_owner))
        shutil.rmtree(self.event_dir, ignore_errors=True)
        m: dict[str, float] = defaultdict(float)
        m["session.start_s"] = self.session_start_s
        family = {o["gid"]: o["family"] for o in timed}
        for g, b in folded.items():
            gid, _, phase = g.partition(":")
            fam = family[gid]
            key = {"build": f"{fam}_jobs", "exec": "spark.exec_jobs"}.get(phase, "streaming.jobs")
            m[key] += b["jobs"]
            for k in ("stages", "tasks", "executor_run_s", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes", "gc_s"):
                m[f"spark.{k}"] += b[k]
            if fam.startswith("etl."):
                m["etl.jobs"] += b["jobs"]
                m["etl.tasks"] += b["tasks"]
        self_times(self.tr.spans)
        covers = []
        for o in timed:
            if "span" not in o:
                continue
            covers.append(o["span"]["child_cover"])
            for s in self.tr.spans:
                if s["parent"] == o["span"]["id"]:
                    key = {"spark.plan": "spark.plan_s", "spark.exec": "spark.exec_s"}.get(
                        s["name"], f"{s['name']}_s")
                    m[key] += s["dur_s"]
            m["plans.exchanges"] += o.get("exchanges", 0)
            m["io.trained_builds"] += o.get("trained_builds", 0)
            m["io.trained_build_s"] += o.get("trained_build_s", 0.0)
            m["io.cached_bytes"] = max(m["io.cached_bytes"], o.get("cached_bytes", 0))
            m["python.udf_s"] += o.get("udf_s", 0.0)
            if o.get("batches"):
                self._stream_metrics(o, m)
        for k in list(m):
            if k not in ("session.start_s", "io.cached_bytes", "streaming.empty_batch_ratio"):
                m[k] /= passes
        if m["streaming.batches"]:
            m["streaming.empty_batch_ratio"] = m.pop("streaming.empty_batches", 0) / m[
                "streaming.batches"]
        if not m["python.udf_s"]:
            self.unmeasurable["python.udf_s"] = (
                "Spark's UDF profiler attributed no time to any op of this workload")
        m["trace.min_op_cover"] = min(covers) if covers else 1.0
        m["trace.ops_below_90pct"] = sum(c < 0.9 for c in covers)
        return {**dict.fromkeys(LAYER_METRICS + WORKLOAD_TIMES, 0.0), **m}

    @staticmethod
    def _stream_metrics(o: dict, m: dict) -> None:
        trig = 0.0
        for p in o["batches"]:
            d = p["duration_ms"]
            m["streaming.batches"] += 1
            m["streaming.empty_batches"] += p["input_rows"] == 0
            m["streaming.source_ms"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
            m["streaming.add_batch_ms"] += d.get("addBatch", 0)
            m["streaming.wal_commit_ms"] += d.get("walCommit", 0)
            m["streaming.commit_offsets_ms"] += d.get("commitOffsets", 0)
            m["streaming.state_commit_ms"] += p["state_commit_ms"]
            m["streaming.state_rows"] += p["state_rows"]
            m["streaming.state_tasks"] += p["state_tasks"]
            m["streaming.input_rows"] += p["input_rows"]
            trig += d.get("triggerExecution", 0) / 1000.0
        m["streaming.tail_s"] += o["build_span"]["dur_s"] - trig

    def write_trace(self, workload: str, report: dict, layer: dict) -> str:
        """Spans (with self time) and both metric sets, one file per run."""
        os.makedirs(self.out_dir, exist_ok=True)
        path = os.path.join(self.out_dir, f"trace_{workload}_s{self.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": workload, "seed": self.seed,
                       "end_to_end": {k: v[0] for k, v in report.items()},
                       "per_layer": layer, "spans": self.tr.spans}, f, indent=1)
        return path

    def _untraced_path(self, workload: str) -> str:
        return os.path.join(self.out_dir, f"untraced_{workload}_s{self.seed}.json")

    def record_untraced(self, workload: str, wall_s: float) -> None:
        """Keep the untraced pass wall so a traced run of the same workload
        and seed can report its tracing overhead."""
        os.makedirs(self.out_dir, exist_ok=True)
        with open(self._untraced_path(workload), "w") as f:
            json.dump({"wall_s": wall_s}, f)

    def read_untraced(self, workload: str) -> float | None:
        try:
            with open(self._untraced_path(workload)) as f:
                return json.load(f)["wall_s"]
        except OSError:
            return None


# ---------------------------------------------------------------------------
# Result checks
# ---------------------------------------------------------------------------


def collected(o: dict):
    """The rows a timed op collected, in the shape ``tests.harness.compare``
    reads (``.columns`` and ``.collect()``), so the query is not re-executed."""
    rows = o.pop("value")
    return SimpleNamespace(columns=o["cols"], collect=lambda: rows)


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Registry:
    """``registry_batch``: a fixed list of registry queries, batch queries
    and stream drains, each built and collected once per pass in a seeded
    order, checked against its DuckDB oracle."""

    #: op families whose latencies make ``op_p50_s``/``op_p90_s``
    LATENCY_FAMILIES = ("queries.",)

    def __init__(self, spec: dict) -> None:
        self.spec = spec
        self.ops = spec["ops"]
        self.queries = None  # the registry, imported during the first set-up

    def generate(self, cache: str, seed: int) -> None:
        self.seed = seed
        self.sf_dir = datagen.gen_tables(cache, seed)

    def _run(self, ctx: Context, name: str, keep: bool) -> None:
        from jp_qcew_spark.queries import all_queries

        if self.queries is None:
            self.queries = all_queries()
        fn = self.queries[name]
        ctx.op(name, "queries.build", lambda: fn(ctx.spark, self.sf_dir), keep=keep)

    def _pass(self, ctx: Context, order_seed: int, keep: bool = True) -> None:
        for name in random.Random(order_seed).sample(self.ops, len(self.ops)):
            self._run(ctx, name, keep)

    def warm_up(self, ctx: Context) -> None:
        """One untimed pass in an order of its own: the first run of each
        query pays class loading and code generation. After a warm-up of one
        op, the first timed pass ran 1.45-1.72x the second on a 4-core VM."""
        self._pass(ctx, self.seed * 1009 - 1, keep=False)

    def one_pass(self, ctx: Context, i: int) -> None:
        self._pass(ctx, self.seed * 1009 + i)

    def after_timed(self, ctx: Context) -> dict:
        return {"spark.floor_s": ctx.measure_floor()}

    def check(self, ctx: Context) -> None:
        import duckdb

        from jp_qcew_spark.queries import all_oracles
        from tests.harness import compare, duckdb_conn

        oracles = all_oracles()
        con = duckdb_conn(self.sf_dir)
        for o in ctx.ops:
            if o["timed"] and o["ok"]:
                try:
                    p = compare(collected(o), con, oracles[o["name"]], o["name"])
                except duckdb.Error as e:
                    p = [f"[{o['name']}] oracle failed: {e}"]
                if p:
                    o["ok"], o["problem"] = False, "; ".join(p)
        con.close()

    def end_to_end(self, ctx: Context, passes: list[float]) -> dict:
        """Drains: rows of the replayed ``feed`` table per second of drain."""
        drains = [o for o in ctx.ops if o["timed"] and o["name"] in self.spec["drains"]]
        if not drains:
            return {}
        import pyarrow.parquet as pq

        feed = os.path.join(self.sf_dir, f"{self.spec['feed']}.parquet")
        rows = pq.ParquetFile(feed).metadata.num_rows
        return {"drain_rows_per_s": (rows * len(drains) / sum(o["s"] for o in drains), "rows/s")}


class QcewEtl:
    """The paper's pipeline: fixed-width decode → Parquet per (year, qtr)
    → an incremental one-quarter reload → dashboard reads of the layout."""

    YEARS = (2015, 2016)
    #: ``op_p50_s``/``op_p90_s`` are over the dashboard reads only
    LATENCY_FAMILIES = ("operators.",)

    def __init__(self, spec: dict) -> None:
        self.spec = spec

    def generate(self, cache: str, seed: int) -> None:
        self.seed = seed
        self.corpus = datagen.gen_qcew_corpus(cache, seed, self.spec["lines_per_file"])
        self.out_root = os.path.join(cache, "etl_out")
        shutil.rmtree(self.out_root, ignore_errors=True)

    # -- reads ------------------------------------------------------------

    def _reads(self, ctx: Context, out: str) -> list[tuple[str, str, object]]:
        """(name, family, build) for one round of dashboard reads."""
        from pyspark.sql import functions as F

        from checks_qcew import wage_label
        from jp_qcew_spark.operators import naics, timeseries, wages

        spark = ctx.spark
        c = self.corpus
        reads = []

        def layout():
            return spark.read.parquet(out)

        for y in self.spec["read_years"]:
            for q in (1, 2, 3, 4):
                reads.append((f"naics4:{y}q{q}", "operators.naics", lambda y=y, q=q: naics.naics4_aggregate(
                    layout().filter((F.col("file_year") == y) & (F.col("file_qtr") == q)),
                    year_col="file_year", qtr_col="file_qtr")))
        reads.append(("naics4:all", "operators.naics", lambda: naics.naics4_aggregate(layout())))
        reads.append(("naics4:legacy", "operators.naics",
                      lambda: naics.naics4_legacy_view(naics.naics4_aggregate(layout()))))
        enriched = {}

        def labels(frame):
            facts = wages.load_wage_facts(spark, c["facts"][frame], frame)
            desc = spark.read.csv(c["desc"], header=True)
            invalid = spark.read.csv(c["invalid"], header=True)
            enriched[frame] = wages.enrich_wages(facts, desc, invalid)
            return wages.label_domain(enriched[frame])

        for frame in self.spec["wage_frames"]:
            reads.append((f"wages:{frame}:labels", "operators.wages", lambda f=frame: labels(f)))
            for code in self.spec["wage_labels"]:
                reads.append((f"wages:{frame}:{code}", "operators.wages",
                              lambda f=frame, code=code: wages.filter_wages_data(
                                  enriched[f], "total_wages", wage_label(code))))

        def monthly():
            df = layout().filter(F.col("year").isin(*self.YEARS) & F.col("qtr").isNotNull())
            return timeseries.to_monthly(df.select(
                "year", "qtr", "first_month_employment",
                "second_month_employment", "third_month_employment"))

        reads.append(("ts:yearly", "operators.timeseries",
                      lambda: timeseries.resample_yearly(monthly())))
        reads.append(("ts:quarterly", "operators.timeseries",
                      lambda: timeseries.resample_quarterly(monthly())))
        return reads

    def _etl(self, ctx: Context, name: str, input_glob: str, out: str) -> dict:
        from jp_qcew_spark.operators.etl import run_etl

        def etl():
            run_etl(ctx.spark, input_glob, out)  # its lazy read-back is not an output

        return ctx.op(name, name, etl, out=out)

    def _pass(self, ctx: Context, label: str, order_seed: int, keep: bool = True) -> None:
        out = os.path.join(self.out_root, label)
        rec = self._etl(ctx, "etl.run", self.corpus["glob"], out)
        rec["out_bytes"], rec["out_files"] = _dir_bytes(out)
        self._etl(ctx, "etl.reload", self.corpus["reload_glob"], out)
        reads = self._reads(ctx, out)
        labels = [r for r in reads if r[0].endswith(":labels")]
        rest = [r for r in reads if not r[0].endswith(":labels")]
        # label domains load the wage facts their series read, so they lead
        for name, fam, build in labels + random.Random(order_seed).sample(rest, len(rest)):
            ctx.op(name, fam, build, keep=keep, out=out)

    def warm_up(self, ctx: Context) -> None:
        """One untimed pass into a layout of its own, for the same reason
        as ``Registry.warm_up``."""
        self._pass(ctx, "warm", self.seed * 1009 - 1, keep=False)

    def one_pass(self, ctx: Context, i: int) -> None:
        self._pass(ctx, f"pass{i}", self.seed * 1009 + i)

    def after_timed(self, ctx: Context) -> dict:
        from jp_qcew_spark.sources.fixed_width import decode_qcew, read_qcew_text, typed_qcew

        runs = []
        for _ in range(3):
            t = time.perf_counter()
            typed_qcew(decode_qcew(read_qcew_text(ctx.spark, self.corpus["glob"]))).write.format(
                "noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t)
        return {"spark.floor_s": ctx.measure_floor(), "sources.decode_s": statistics.median(runs)}

    def end_to_end(self, ctx: Context, passes: list[float]) -> dict:
        runs = [o for o in ctx.ops if o["timed"] and o["family"] == "etl.run" and o["ok"]]
        if not runs:
            return {}
        m = {
            "ingest_rows_per_s": (self.corpus["input_lines"] / statistics.median(
                o["s"] for o in runs), "rows/s"),
            "bytes_written_per_input_byte": (statistics.median(
                o["out_bytes"] for o in runs) / self.corpus["input_bytes"], "ratio"),
        }
        if ctx.traced:
            ctx.layer["etl.output_bytes"] = statistics.median(o["out_bytes"] for o in runs)
            ctx.layer["etl.output_files"] = statistics.median(o["out_files"] for o in runs)
        return m

    def check(self, ctx: Context) -> None:
        import duckdb

        from checks_qcew import expected_reads, nonblank_lines
        from tests.harness import compare

        want_rows = nonblank_lines(self.corpus["glob"])
        sql = expected_reads(self.corpus, self.spec["wage_labels"])
        by_out: dict[str, duckdb.DuckDBPyConnection] = {}
        for o in ctx.ops:
            if not o["timed"]:
                continue
            out = o["out"]
            if out not in by_out:
                con = by_out[out] = duckdb.connect()
                con.execute(
                    "CREATE VIEW qcew_clean AS SELECT * FROM read_parquet("
                    f"'{out}/*/*/*.parquet', hive_partitioning=1)")
                n = con.execute("SELECT count(*) FROM qcew_clean").fetchone()[0]
                if n != want_rows:
                    o["ok"] = False
                    o["problem"] = f"wrote {n} rows for {want_rows} non-blank input lines"
            if not o["ok"] or o["family"].startswith("etl."):
                continue
            con = by_out[out]
            if o["name"].endswith(":labels"):
                value = o.pop("value")
                want = [r[0] for r in con.sql(sql[o["name"]]).fetchall()]
                p = [] if value == want else [f"[{o['name']}] labels {value} != {want}"]
            else:
                p = compare(collected(o), con, sql[o["name"]], o["name"])
            if p:
                o["ok"], o["problem"] = False, "; ".join(p)
        for con in by_out.values():
            con.close()
        shutil.rmtree(self.out_root, ignore_errors=True)


def make(spec: dict):
    return {"qcew": QcewEtl, "registry": Registry}[spec["kind"]](spec)
