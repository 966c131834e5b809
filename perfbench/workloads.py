"""The two workloads. Each one sets up, warms up, then repeats its timed
operation until ``--seconds`` have passed, checking every output outside the
timed region. Medians are taken over the repetitions of one run."""

from __future__ import annotations

import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from datetime import datetime

from spans import (
    EXEC_KEYS,
    Tracer,
    idle_time,
    install_wrappers,
    read_event_log,
    remove_wrappers,
    span_of_job,
)


HERE = os.path.dirname(os.path.abspath(__file__))
MIN_REPS = 3  # timed reps per run, at least, whatever ``--seconds`` says


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM and its Python workers), from /proc. Time a co-tenant took
    from this VM (steal) is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while scanning
        # fields[1] is ppid; utime, stime, cutime, cstime follow at 11..14
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / tick


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    """State of one benchmark run: the session, the tracer, failures."""

    def __init__(self, args, cfg: dict, root: str, work: str, t_process: float):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cfg = cfg
        self.root = root
        self.work = work
        self.t_process = t_process
        self.cpus = len(os.sched_getaffinity(0))
        self.failures: list[str] = []
        self.attempted = 0
        self.spark = None
        self.tracer = Tracer()
        self.captured: dict = {}  # DataFrames the wrappers hand back
        self.wrapped: list = []

    # -- plumbing ----------------------------------------------------------

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
            log(f"check failed: {what}")
        return ok

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self, shuffle_partitions: int) -> None:
        from kbgen_spark.session import get_spark

        fmt = {"work": self.work, "root": self.root}
        conf = {k: v.format(**fmt) for k, v in self.cfg["spark_conf"].items()}
        if self.trace:
            conf.update(
                {k: v.format(**fmt) for k, v in self.cfg["trace_spark_conf"].items()}
            )
            os.makedirs(self.path("eventlog"), exist_ok=True)
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cpus}]",
            shuffle_partitions=shuffle_partitions,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.time() - self.t_process
        self.tracer = Tracer(self.spark.sparkContext, jobs=False)

    def peak_rss_mb(self) -> float:
        """Peak RSS of the driver JVM (it hosts every executor thread) plus
        this Python process."""
        jvm = self.spark.sparkContext._gateway.proc.pid
        return _rss_mb(jvm) + _rss_mb(os.getpid())

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def run(self) -> dict:
        cls = KgBatch if self.workload == "kg_batch" else QuerySuite
        self.not_run = cls.NOT_RUN
        return cls(self).run()

    def set_up(self, prepare, warm_up) -> float:
        """Build the inputs, then warm up; return ``setup_s``, the time from
        process start to the first timed op."""
        with self.tracer.span("setup.prep") as prep:
            prepare()
        with self.tracer.span("setup.warmup") as warm:
            warm_up()
        setup_s = time.time() - self.t_process
        log(f"setup {setup_s:.2f} s: session {self.session_start_s:.2f} s, "
            f"prepare {self.tracer.dur(prep):.2f} s, "
            f"warm-up {self.tracer.dur(warm):.2f} s")
        return setup_s

    def timed_loop(self, op) -> tuple[list[float], list[float]]:
        """Repeat ``op(rep)`` until ``seconds`` have passed and at least
        ``MIN_REPS`` ran; return each rep's wall and CPU seconds. ``op``
        returns a function that checks the rep's outputs, untimed."""
        t_end = time.time() + self.seconds
        walls, cpus = [], []
        rep = 0
        while True:
            if self.trace and rep == 1:
                # rep 0 ran untraced: it gives the job count and the wall
                # the traced reps are compared with
                self.tracer.jobs = True
                self.wrapped = install_wrappers(self.tracer, self.captured)
            self.tracer.rep = rep
            t, c = time.time(), tree_cpu_s()
            with self.tracer.span("op"):
                finish = op(rep)
            walls.append(time.time() - t)
            cpus.append(tree_cpu_s() - c)
            rep += 1
            last = rep >= MIN_REPS and time.time() >= t_end
            finish(last)
            parts = {s["name"]: round(self.tracer.dur(s), 2)
                     for s in self.tracer.spans if s["rep"] == rep - 1
                     and s["parent"] is not None
                     and self.tracer.spans[s["parent"]]["name"] == "op"}
            log(f"rep {rep - 1}: {walls[-1]:.3f} s, cpu {cpus[-1]:.2f} s {parts}")
            if last:
                break
        self.tracer.rep = None
        return walls, cpus

    # -- traced-run attribution -------------------------------------------

    def attribute_jobs(self, families: set[str], extra_groups: dict) -> dict:
        """Read the event log (after stop) and attach each job to the
        nearest enclosing span whose name is in ``families``. Streaming
        jobs carry the query's run id as their group; ``extra_groups`` maps
        those ids to the span that started the query."""
        ev = read_event_log(self.path("eventlog"))
        by_id = {s["id"]: s for s in self.tracer.spans}
        for job in ev["jobs"].values():
            sid = span_of_job(job)
            if sid is None:
                sid = extra_groups.get(job["group"])
            fam = None
            while sid is not None:
                s = by_id[sid]
                if s["name"] in families:
                    fam = s
                    break
                sid = s["parent"]
            job["span"] = fam
        return ev


def exec_metrics(jobs: list[dict], prefix: str) -> dict:
    out = {}
    for k in EXEC_KEYS:
        out[f"{prefix}.{k}"] = sum(j[k] for j in jobs)
    return out


def per_rep_median(rows: list[dict]) -> dict:
    keys = rows[0].keys() if rows else []
    return {k: median([r[k] for r in rows]) for k in keys}


# ---------------------------------------------------------------------------
# kg_batch
# ---------------------------------------------------------------------------


class KgBatch:
    """The KB build, repeated: ``run_pipeline`` over the checkpointed docs,
    gazetteer and patterns (the four stages), then ``write_triples`` into a
    fresh directory. The seed permutes the corpus rows and splits them into
    files, which moves docs between partitions; the expected triple set does
    not depend on it.

    A traced run also measures the layers that consume the KB, after the
    timed reps: two incremental refreshes and two learn/emit rounds (the
    second of each is reported)."""

    CORPUS = os.path.join(HERE, "data", "sf0.1", "documents.parquet")
    # the triples of the whole corpus, whatever the seed or partitioning
    FINGERPRINT = "537:32036531798784269454"
    INGEST_DOCS = 500  # docs per incremental refresh
    # the triples of the fixed INGEST_DOCS sample
    INGEST_FINGERPRINT = "450:-530808428610904354"
    EMIT_N = 2_000_000  # facts asked of each emit_synthetic call
    # layers this workload does not run; they report 0 when traced
    NOT_RUN = ("query.", "dedup.")
    STAGES = ("extract", "canon", "link", "materialize")
    EXEC_SPANS = ("pipeline.extract", "pipeline.canon", "pipeline.link",
                  "sink.write", "synth.m1", "synth.m2", "ingest.batch")

    def __init__(self, b: Bench):
        self.b = b
        self.run_ids: dict = {}
        self.reps: list[dict] = []

    def prepare(self) -> None:
        """Write the seed's corpus (the source rows in a seed-drawn order,
        one file per core), then build the pipeline's inputs from it as
        bench.py does: interleaved docs and the gazetteer, checkpointed."""
        import numpy as np
        import pyarrow.parquet as pq

        from kbgen_spark import fixtures as FX

        b, spark = self.b, self.b.spark
        table = pq.read_table(self.CORPUS)
        table = table.take(np.random.default_rng(b.seed).permutation(table.num_rows))
        self.corpus = b.path("corpus")
        out = os.path.join(self.corpus, "documents.parquet")
        os.makedirs(out)
        for k, idx in enumerate(np.array_split(np.arange(table.num_rows), b.cpus)):
            pq.write_table(table.take(idx), os.path.join(out, f"part-{k:05d}.parquet"))
        flat = FX.load_flat_documents(spark, self.corpus)
        self.docs = FX.interleave_documents(flat).repartition(b.cpus)
        self.docs = self.docs.localCheckpoint(eager=True)
        with b.tracer.span("fixtures.gazetteer"):
            self.gaz = FX.build_gazetteer(flat).localCheckpoint(eager=True)
            self.patterns = FX.build_relation_patterns(spark)

    def op(self, rep: int):
        from kbgen_spark.operators.materialize import write_triples
        from kbgen_spark.pipeline import run_pipeline

        b, spark = self.b, self.b.spark
        sink = b.path(f"rep{rep}", "sink")
        run = run_pipeline(spark, self.corpus, docs=self.docs,
                           gazetteer=self.gaz, patterns=self.patterns)
        with b.tracer.span("sink.write"):
            write_triples(run.triples, sink)
        rec = {"traced": b.tracer.jobs, "sink": sink}

        def finish(last: bool) -> None:
            from kbgen_spark.pipeline import triples_fingerprint
            from kbgen_spark.plans.lineage import release_fanouts

            want = self.FINGERPRINT
            got = triples_fingerprint(spark.read.parquet(sink))
            b.check(got == want, f"sink triples {got} != {want}")
            if b.trace:
                rec["n_triples"] = run.metrics().get("n_triples", 0)
                if last:
                    # counts after timing: extract re-runs, link is persisted
                    rec["mentions"] = run.stages["extract"].df.count()
                    rec["links"] = run.stages["link"].df.count()
            release_fanouts()
            if not (b.trace and last):  # the last KB feeds the traced synth
                shutil.rmtree(os.path.dirname(sink), ignore_errors=True)
            self.reps.append(rec)

        return finish

    def warm_up(self) -> None:
        """Two full reps, checked and discarded: the JIT is still compiling
        through the first reps after a cold one."""
        for i in range(2):
            self.op(-1 - i)(False)
            self.reps.pop()

    def run(self) -> dict:
        import pyarrow.parquet as pq

        b = self.b
        n_docs = pq.read_metadata(self.CORPUS).num_rows
        b.start_session(max(b.cpus, n_docs // 2500))  # bench.py's partition rule
        setup_s = b.set_up(self.prepare, self.warm_up)
        walls, cpus = b.timed_loop(self.op)
        if not b.trace:
            log(f"op wall median {median(walls):.3f} s")
            return {
                "setup_s": setup_s,
                "peak_rss_mb": b.peak_rss_mb(),
                "op_wall_s": median(walls),
                "op_cpu_s": median(cpus),
            }
        consumers = self.kb_consumers()
        remove_wrappers(b.wrapped)
        b.stop()
        return self.layers(walls, consumers)

    # -- traced run: the KB's consumers ------------------------------------

    def kb_consumers(self) -> dict:
        """Incremental refreshes and learn/emit rounds on the last rep's KB,
        each twice; returns the second of each."""
        from pyspark.sql import functions as F

        from kbgen_spark import fixtures as FX
        from kbgen_spark.models.emit import emit_synthetic
        from kbgen_spark.models.learn import learn_m1, learn_m2
        from kbgen_spark.pipeline import build_canon_map, triples_fingerprint
        from kbgen_spark.streaming.ingest import incremental_kg_ingest

        b, spark, T = self.b, self.b.spark, self.b.tracer
        T.rep = "consumers"
        gaz, patterns = self.gaz, self.patterns
        with T.span("pipeline.canon_map"):
            canon = build_canon_map(gaz).localCheckpoint(eager=True)
        # a fixed 500-doc sample, so its expected triples are a constant
        docs = FX.interleave_documents(FX.load_flat_documents(spark, self.corpus))
        sample = docs.orderBy(F.xxhash64("doc_id")).limit(self.INGEST_DOCS)
        sample.coalesce(1).write.parquet(b.path("ingest_file"))
        (part,) = [f for f in os.listdir(b.path("ingest_file")) if f.endswith(".parquet")]
        out = {}
        for i in range(2):
            src, sink, ckpt = (b.path(f"ingest{i}", d) for d in ("src", "out", "ckpt"))
            os.makedirs(src)
            with T.span("ingest.batch") as sp:
                shutil.copy(os.path.join(b.path("ingest_file"), part),
                            os.path.join(src, "part-0.parquet"))
                stream = spark.readStream.schema(docs.schema).parquet(src)
                t_start = time.time()
                q = incremental_kg_ingest(spark, stream, gaz, patterns, canon, sink, ckpt)
                self.run_ids[str(q.runId)] = sp["id"]
                q.awaitTermination()
            if b.check(q.exception() is None, f"refresh raised {q.exception()}"):
                got = triples_fingerprint(spark.read.parquet(sink).distinct())
                want = self.INGEST_FINGERPRINT
                b.check(got == want, f"refresh triples {got} != {want}")
            out["ingest"] = {
                "span": sp, "t_start": t_start,
                "progress": [p for p in q.recentProgress if p["numInputRows"] > 0],
                "sink_files": sum(f.endswith(".parquet") for f in os.listdir(sink)),
            }
        types = gaz.select(
            F.col("entity_id").alias("entity"), F.col("entity_type").alias("type")
        ).distinct()
        n = self.EMIT_N
        for i in range(2):
            with T.span("synth.learn") as learn:
                kb = spark.read.parquet(self.reps[-1]["sink"]).select("subj", "pred", "obj")
                m1, m2 = learn_m1(kb, types), learn_m2(kb, types)
            with T.span("synth.m1") as e1:
                c1 = emit_synthetic(spark, m1, n, seed=b.seed + i, mode="m1").count()
            with T.span("synth.m2") as e2:
                c2 = emit_synthetic(spark, m2, n, seed=b.seed + i, mode="m2").count()
            b.check(c1 == n, f"M1 emitted {c1} facts, asked for {n}")
            b.check(0 < c2 <= n, f"M2 accepted {c2} of {n}")
            out["synth"] = {"learn": learn, "m1": e1, "m2": e2, "c2": c2}
        T.rep = None
        return out

    # -- per-layer metrics (traced run) -------------------------------------

    def layers(self, walls: list[float], consumers: dict) -> dict:
        b, T = self.b, self.b.tracer
        families = {f"pipeline.{s}" for s in self.STAGES} | set(self.EXEC_SPANS)
        families |= {"op", "synth.learn"}
        ev = b.attribute_jobs(families, self.run_ids)
        jobs = list(ev["jobs"].values())
        traced = [r for r in range(len(walls)) if self.reps[r]["traced"]]
        rows = [self.rep_layers(r, jobs, ev["sql_rows"]) for r in traced]
        out = {
            "session.start_s": b.session_start_s,
            "setup.prep_s": median([T.dur(s) for s in T.find("setup.prep")]),
            "fixtures.gazetteer_s": median(
                [T.dur(s) for s in T.find("fixtures.gazetteer")]),
            "pipeline.canon_map_s": T.dur(T.find("pipeline.canon_map")[0]),
            **per_rep_median(rows),
        }

        def window_jobs(r):
            (op,) = T.find("op", r)
            return [j for j in jobs if op["start"] <= j["submit"] <= op["end"]]

        untraced_jobs = len(window_jobs(0))
        traced_jobs = [len(window_jobs(r)) for r in traced]
        b.check(all(n == untraced_jobs for n in traced_jobs),
                f"traced reps ran {traced_jobs} jobs, untraced rep {untraced_jobs}")
        lost = sum(j["span"] is None for r in traced for j in window_jobs(r))
        b.check(lost == 0, f"{lost} jobs in traced reps have no span")
        last = self.reps[-1]
        pair_rows = out.pop("_pair_rows")
        triples = median([self.reps[r]["n_triples"] for r in traced])
        out.update({
            "op.wall_s": median([walls[r] for r in traced]),
            "trace.overhead_s": median([walls[r] for r in traced]) - walls[0],
            "trace.untraced_jobs": untraced_jobs,
            "trace.traced_jobs": median(traced_jobs),
            "pipeline.mentions": last["mentions"],
            "pipeline.links": last["links"],
            "pipeline.triples": triples,
            "materialize.pair_rows": pair_rows,
            "materialize.distinct_ratio": triples / pair_rows if pair_rows else 0,
        })
        out.update(self.consumer_layers(consumers, jobs))
        log(f"stage spans cover {out['trace.stage_coverage']:.3f} of the rep wall")
        return out

    def rep_layers(self, r: int, jobs: list[dict], sql_rows: dict) -> dict:
        T = self.b.tracer

        def fam(name):
            return [j for j in jobs if j["span"] is not None
                    and j["span"]["rep"] == r and j["span"]["name"] == name]

        row = {}
        (op,) = T.find("op", r)
        covered = 0.0
        for st in self.STAGES:
            (s,) = T.find(f"pipeline.{st}", r)
            plans = [d for d in T.descendants(s) if d["name"] == f"pipeline.{st}.plan"]
            row[f"pipeline.{st}.wall_s"] = T.dur(s)
            row[f"pipeline.{st}.plan_s"] = sum(T.dur(p) for p in plans)
            row[f"pipeline.{st}.jobs"] = len(fam(f"pipeline.{st}"))
            covered += T.dur(s)
        (sink,) = T.find("sink.write", r)
        row["sink.write_s"] = T.dur(sink)
        row["sink.jobs"] = len(fam("sink.write"))
        row["trace.stage_coverage"] = (covered + T.dur(sink)) / T.dur(op)
        in_op = [j for j in jobs if op["start"] <= j["submit"] <= op["end"]]
        row["pipeline.driver_s"] = idle_time(op["start"], op["end"], in_op)
        for name in self.EXEC_SPANS[:4]:
            row.update(exec_metrics(fam(name), name))
        row["_pair_rows"] = sum(
            sum(sql_rows.get(int(e), {}).values())
            for e in {j["sql"] for j in fam("sink.write") if j["sql"] is not None}
        )
        return row

    def consumer_layers(self, c: dict, jobs: list[dict]) -> dict:
        T, n = self.b.tracer, self.EMIT_N

        def fam(span):
            return [j for j in jobs if j["span"] is not None
                    and j["span"]["id"] == span["id"]]

        s, ing = c["synth"], c["ingest"]
        out = {
            "synth.learn_plan_s": T.dur(s["learn"]),
            "synth.m1.emit_s": T.dur(s["m1"]),
            "synth.m2.emit_s": T.dur(s["m2"]),
            "synth.m2.accept_ratio": s["c2"] / n,
        }
        out.update(exec_metrics(fam(s["m1"]), "synth.m1"))
        out.update(exec_metrics(fam(s["m2"]), "synth.m2"))
        sp, prog = ing["span"], ing["progress"]
        dm = [p["durationMs"] for p in prog]

        def ms(key):
            return sum(d.get(key, 0) for d in dm)

        first = datetime.fromisoformat(prog[0]["timestamp"]).timestamp()
        out.update({
            "ingest.start_s": first - ing["t_start"],
            "ingest.trigger_ms": ms("triggerExecution"),
            "ingest.add_batch_ms": ms("addBatch"),
            "ingest.wal_commit_ms": ms("walCommit"),
            "ingest.commit_offsets_ms": ms("commitOffsets"),
            "ingest.latest_offset_ms": ms("latestOffset"),
            "ingest.query_planning_ms": ms("queryPlanning"),
            "ingest.plan_s": sum(T.dur(d) for d in T.descendants(sp)
                                 if d["name"].startswith("ingest.plan")),
            "ingest.jobs": len(fam(sp)),
            "ingest.sink_files": ing["sink_files"],
        })
        out.update(exec_metrics(fam(sp), "ingest.batch"))
        return out


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------


class QuerySuite:
    """Headline driver queries, timed in a seed-chosen order. The timed
    action is ``toPandas()``, as in the oracle comparison. After the timed
    passes (and after peak RSS is read, since DuckDB runs in this process)
    every query is checked once against its DuckDB oracle, and every timed
    result against the oracle's row count."""

    SF = os.path.join(HERE, "data", "sf0.01")
    QUERIES = (
        "q3_top_revenue_orders",
        "q5_region_nation_revenue",
        "window_rolling_sum_events",
        "minhash_doc_pairs",
        "dedup_ngram_jaccard_pairs",
        "similarity_cosine_topk",
        "lang_id_documents",
    )
    # layers this workload does not run; they report 0 when traced
    NOT_RUN = ("fixtures.", "pipeline.", "sink.", "materialize.", "synth.",
               "ingest.", "trace.stage_coverage", "trace.untraced_jobs",
               "trace.traced_jobs")

    def __init__(self, b: Bench):
        self.b = b
        self.tables = sorted(f.removesuffix(".parquet") for f in os.listdir(self.SF)
                             if f.endswith(".parquet"))
        self.names = list(self.QUERIES)
        random.Random(b.seed).shuffle(self.names)
        self.passes: list[dict] = []

    def prepare(self) -> None:
        """Open every table the queries scan (file listing and footer
        schema, the driver work of a fresh scan handle)."""
        for t in self.tables:
            self.b.spark.read.parquet(f"{self.SF}/{t}.parquet").schema

    def check_outputs(self) -> None:
        """Run every query to pandas and compare with DuckDB; then compare
        each timed pass's row counts with the oracle's."""
        import duckdb
        import pandas as pd

        import __spark_entry__ as E
        from kbgen_spark.plans.lineage import release_fanouts
        from tools.compare_oracle import norm_frame

        b = self.b
        con = duckdb.connect()
        for t in self.tables:
            con.execute(f"create view {t} as select * from '{self.SF}/{t}.parquet'")
        qs, oracles = E.queries(), E.oracle_sql()
        for name in self.names:
            got = qs[name](b.spark, self.SF).toPandas()
            release_fanouts()
            want = con.execute(oracles[name]).df()
            a, w = norm_frame(got), norm_frame(want)
            try:
                ok = list(a.columns) == list(w.columns) and len(a) == len(w)
                if ok:
                    pd.testing.assert_frame_equal(a, w, check_dtype=False,
                                                  check_exact=True)
            except AssertionError:
                ok = False
            b.check(ok, f"{name} differs from its DuckDB oracle")
            for i, p in enumerate(self.passes):
                n = p["counts"][name]
                b.check(n == len(want),
                        f"{name} returned {n} rows in pass {i}, oracle {len(want)}")
        con.close()

    def op(self, rep: int):
        import __spark_entry__ as E
        from kbgen_spark.plans.lineage import release_fanouts

        b, qs = self.b, E.queries()
        walls, cpus, counts = {}, {}, {}
        for name in self.names:
            c = tree_cpu_s()
            with b.tracer.span(f"query.{name}") as sp:
                # collect every column, as the oracle comparison does;
                # count() would let Catalyst prune the operator's output
                counts[name] = len(qs[name](b.spark, self.SF).toPandas())
            cpus[name] = tree_cpu_s() - c
            walls[name] = b.tracer.dur(sp)
            release_fanouts()
        self.passes.append({"walls": walls, "cpus": cpus, "counts": counts,
                            "traced": b.tracer.jobs})
        return lambda last: None  # checked against the oracle after timing

    def suite_s(self, passes: list[dict], key: str = "walls") -> float:
        """Sum over the queries of each query's median."""
        return sum(median([p[key][n] for p in passes]) for n in self.names)

    def warm_up(self) -> None:
        """Two untimed passes: JIT compilation of the collect path is still
        running through the first passes after a cold one."""
        for i in range(2):
            self.op(-1 - i)
        self.passes.clear()

    def run(self) -> dict:
        b = self.b
        b.start_session(max(2 * b.cpus, 16))
        setup_s = b.set_up(self.prepare, self.warm_up)
        b.timed_loop(self.op)
        remove_wrappers(b.wrapped)
        rss = b.peak_rss_mb()  # before DuckDB loads into this process
        self.check_outputs()
        if not b.trace:
            return {
                "setup_s": setup_s,
                "peak_rss_mb": rss,
                "op_wall_s": self.suite_s(self.passes),
                "op_cpu_s": self.suite_s(self.passes, "cpus"),
            }
        cand = b.captured.get("ngram_prefix_candidates")
        n_cand = cand.count() if cand is not None else 0
        b.stop()
        traced = [p for p in self.passes if p["traced"]]
        families = {f"query.{n}" for n in self.names}
        ev = b.attribute_jobs(families, {})
        T = b.tracer
        out = {"session.start_s": b.session_start_s,
               "setup.prep_s": median([T.dur(s) for s in T.find("setup.prep")])}
        for name in self.names:
            out[f"query.{name}_s"] = median([p["walls"][name] for p in traced])
            rows = []
            for p_idx, p in enumerate(self.passes):
                if not p["traced"]:
                    continue
                js = [j for j in ev["jobs"].values() if j["span"] is not None
                      and j["span"]["name"] == f"query.{name}"
                      and j["span"]["rep"] == p_idx]
                rows.append(exec_metrics(js, f"query.{name}"))
            m = per_rep_median(rows)
            out[f"query.{name}.executor_cpu_s"] = m[f"query.{name}.executor_cpu_s"]
            out[f"query.{name}.shuffle_write_bytes"] = m[
                f"query.{name}.shuffle_write_bytes"]
        verified = traced[-1]["counts"]["dedup_ngram_jaccard_pairs"]
        out["dedup.ngram_candidate_ratio"] = verified / n_cand if n_cand else 0
        out["op.wall_s"] = self.suite_s(traced)
        out["trace.overhead_s"] = self.suite_s(traced) - self.suite_s(self.passes[:1])
        return out
