#!/usr/bin/env python3
"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload import_mixed --seed 1 --seconds 15 --trace 0

Run from the repository root. Each invocation:

1. generates the workload's inputs from ``--seed`` (untimed);
2. set-up: starts the SparkSession and runs one untimed warm-up pass
   (``setup_s``);
3. runs timed passes until they have taken ``--seconds`` in total and
   reports their median (``pass_s``) and the peak resident memory of
   this process plus the Spark JVM (``peak_rss_mb``);
4. checks the outputs (untimed);
5. with ``--trace 1``, instead of step 3, restarts the SparkSession
   twice and runs a warm-up pass and two timed passes in each: first
   untraced, as the reference for the tracing overhead, then with
   event logging and a span and Spark job group per call. Every job
   is attributed to the call that launched it; the per-layer metrics
   are printed, and the spans and layer metrics go to
   ``perfbench/out/``.

The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Operations are input files,
HTTP POSTs, queries and output checks. The exit code is nonzero when
any operation or check failed.

Workloads (all on ``local[nproc]`` in this one process):

* ``import_mixed`` - the importer CLI sequence (discovery, grouped CNA
  and salvage mutation conversion, both combines, ClickHouse load into
  an in-process HTTP stub) over one tree of six small studies, which
  stress per-file driver work and Spark scheduling (the salvage probe
  runs one count job per file), and one wide study, which stresses
  bytes (TSV parse, CNA melt, parquet and JSON bodies). The sink keeps
  one POST in flight per running task.
* ``llm_query_mix`` - four registry queries over seeded ``documents``
  and ``embeddings`` tables, each written to the noop sink: the dedup,
  similarity (ANN) and text operators and the eager driver-side
  builds, none of which the importer touches.

The trees and tables are small so that one run takes about a minute:
on 4 cores a warm pass takes about 10 s and set-up about 30 s, most
of it JVM start and the first, cold pass.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import uuid
import warnings

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(BENCH_DIR, "out")

# Sizes are fixed per workload; the seed changes content only.
IMPORT_TREE = [
    # many small studies: bench_parity.gen_study_tree's shape
    dict(prefix="small", n_studies=6, n_genes=20, n_samples=8,
         n_maf_rows=12, wide_maf=False),
    # one wide study: 1500 genes x 50 samples, 22-column MAF
    dict(prefix="wide", n_studies=1, n_genes=1500, n_samples=50,
         n_maf_rows=3000, wide_maf=True),
]
LLM_DOCS, LLM_VECS = 800, 400
LLM_QUERIES = (
    "training_manifest",
    "dedup_containment",
    "ann_recall_check",
    "bm25_topdocs",
)
PIPELINE_CALLS = (
    "convert_cna_grouped",
    "convert_mutations_grouped_salvage",
    "combine_cna",
    "combine_mutations",
    "load_clickhouse",
)
TRACED_PASSES = 2


def _hermetic_env(work: str) -> None:
    """Point every temp, scratch and cache path of this process, the
    JVM and the Python workers into ``work``; must run before pyspark
    is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Python workers import the package by name (pandas UDFs)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.dont_write_bytecode = True
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # pinned session settings: local[nproc] and a 2 GiB driver heap,
    # whatever the caller's environment asks of the session factory
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    for name in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_INITIAL_PARTITIONS", "SPARK_GRAFT_UI"):
        os.environ.pop(name, None)
    sys.path.insert(0, ROOT)


def _spark_conf(work: str, event_log: str | None = None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # commit and touch the whole driver heap at start: otherwise the
        # JVM's share of peak_rss_mb follows when GC ergonomics chose to
        # grow the heap, which varied by 20% between identical runs
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
        ),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """VmHWM of this process plus the Spark JVM (spark-submit execs
    into the JVM, so the gateway process id is the JVM's)."""
    kb = _vm_hwm_kb(os.getpid())
    pid = _jvm_pid()
    if pid is not None:
        kb += _vm_hwm_kb(pid)
    return kb / 1024


def _stop_jvm() -> None:
    """Stop the gateway JVM and wait for it to exit (it exits when its
    stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Ops:
    """Attempted and failed operations, with one line per failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def add(self, attempted: int, failed: int = 0, error: str | None = None) -> None:
        self.attempted += attempted
        self.failed += failed
        if error:
            self.errors.append(error)


# --- workloads -----------------------------------------------------------


class ImportWorkload:
    name = "import_mixed"

    def __init__(self, work: str, seed: int) -> None:
        from gen import gen_study_tree

        self.tree = os.path.join(work, "input", "studies")
        os.makedirs(self.tree)
        self.manifest = gen_study_tree(self.tree, seed, IMPORT_TREE)
        self.outputs = os.path.join(work, "output")
        self.stub = None
        self.last_out = None
        self.state: dict = {}
        self._n = 0

    def start(self, spark) -> None:
        from stub import ClickHouseStub

        self.spark = spark
        if self.stub is None:
            self.stub = ClickHouseStub()

    def prepare(self) -> None:
        """Untimed: drop the previous pass's outputs, pick a fresh dir."""
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self._n += 1
        self.last_out = os.path.join(self.outputs, f"pass{self._n}")

    def run_pass(self, tracer, ops: Ops) -> None:
        from clickhouse_only_importer_prototype_spark.plans import pipelines as P
        from clickhouse_only_importer_prototype_spark.sources import discovery

        spark, tree, out = self.spark, self.tree, self.last_out
        with tracer.span("sources.discovery"):
            discovered = len(discovery.discover_cna_files(tree)) + len(
                discovery.discover_mutation_files(tree)
            )
        with tracer.span("plans.pipelines.convert_cna_grouped"):
            P.convert_cna_grouped(spark, tree, out, with_derived=True)
        with tracer.span("plans.pipelines.convert_mutations_grouped_salvage"):
            summary = P.convert_mutations_grouped_salvage(spark, tree, out)
        with tracer.span("plans.pipelines.combine_cna"):
            P.combine_cna(spark, out, with_derived=True)
        with tracer.span("plans.pipelines.combine_mutations"):
            P.combine_mutations(spark, out)
        before = self.stub.counters.snapshot()
        with tracer.span("plans.pipelines.load_clickhouse"):
            loaded = P.load_clickhouse(spark, out, self.stub.url)
        after = self.stub.counters.snapshot()
        ops.add(
            discovered,
            len(summary.failed),
            f"salvage failures: {sorted(summary.failed)}" if summary.failed else None,
        )
        stub = {k: after[k] - before[k] for k in ("posts", "ddl", "rows", "body_bytes", "busy_s")}
        errs = after["errors"][len(before["errors"]):]
        ops.add(stub["posts"] + stub["ddl"] + len(errs), len(errs), "; ".join(errs) or None)
        sent = sum(loaded.values())
        if stub["rows"] != sent:
            ops.add(1, 1, f"stub received {stub['rows']} rows, load_clickhouse returned {sent}")
        self.state = {
            "discovered": discovered,
            "loaded": loaded,
            "stub": stub,
            "parquet_files": sum(
                f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs
            ),
        }

    def warm_up(self, tracer, ops: Ops) -> None:
        self.run_pass(tracer, ops)

    def check(self, ops: Ops) -> None:
        """Untimed: the last pass's combined outputs and load."""
        from checks import check_combined

        errors = check_combined(self.last_out, self.tree, self.manifest)
        ops.add(1, bool(errors), "; ".join(errors) or None)
        loaded, want = self.state["loaded"], self.manifest["rows"]
        ops.add(1, loaded != want, f"load_clickhouse returned {loaded}, manifest {want}"
                if loaded != want else None)

    def layer_metrics(self, rows_by_name: dict, state: dict) -> dict:
        m = {}
        m["sources.discovery.s"] = rows_by_name["sources.discovery"]["s"]
        m["sources.discovery.files"] = state["discovered"]
        for fn in PIPELINE_CALLS:
            r = rows_by_name[f"plans.pipelines.{fn}"]
            pre = f"plans.pipelines.{fn}"
            m[f"{pre}.s"] = r["s"]
            m[f"{pre}.jobs"] = r["spark"]["jobs"]
            m[f"{pre}.stages"] = r["spark"]["stages"]
            m[f"{pre}.tasks"] = r["spark"]["tasks"]
            m[f"{pre}.driver_s"] = r["driver_s"]
        m["sinks.parquet.output_mb"] = sum(
            rows_by_name[f"plans.pipelines.{fn}"]["spark"]["output_mb"]
            for fn in PIPELINE_CALLS[:4]
        )
        m["sinks.parquet.files"] = state["parquet_files"]
        load = rows_by_name["plans.pipelines.load_clickhouse"]
        stub = state["stub"]
        posts, rows = stub["posts"], stub["rows"]
        sent = sum(state["loaded"].values())
        m["sinks.clickhouse_http.s"] = load["s"] - load["driver_s"]
        m["sinks.clickhouse_http.posts"] = posts
        m["sinks.clickhouse_http.rows"] = rows
        m["sinks.clickhouse_http.body_mb"] = stub["body_bytes"] / 2**20
        m["sinks.clickhouse_http.rows_per_post"] = rows / posts if posts else 0.0
        m["sinks.clickhouse_http.stub_busy_s"] = stub["busy_s"]
        m["sinks.clickhouse_http.dup_rows_frac"] = rows / sent - 1 if sent else 0.0
        return m

    def close(self) -> None:
        if self.stub is not None:
            self.stub.close()
            self.stub = None


class QueryWorkload:
    name = "llm_query_mix"

    def __init__(self, work: str, seed: int) -> None:
        from gen import gen_llm_tables

        self.sf_dir = os.path.join(work, "input", "sf")
        os.makedirs(self.sf_dir)
        gen_llm_tables(self.sf_dir, seed, LLM_DOCS, LLM_VECS)
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}
        self.state: dict = {}

    def start(self, spark) -> None:
        from clickhouse_only_importer_prototype_spark import queries

        self.spark = spark
        self.registry = queries.queries()

    def prepare(self) -> None:
        pass

    def run_pass(self, tracer, ops: Ops, collect: bool = False) -> None:
        for name in LLM_QUERIES:
            try:
                with tracer.span(f"queries.{name}.build"):
                    df = self.registry[name](self.spark, self.sf_dir)
                with tracer.span(f"queries.{name}.exec"):
                    if collect:
                        self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
                    else:
                        df.write.format("noop").mode("overwrite").save()
                ops.add(1)
            except Exception:  # noqa: BLE001 - one failed query is one failed op
                ops.add(1, 1, f"{name}: {traceback.format_exc(limit=3)}")

    def warm_up(self, tracer, ops: Ops) -> None:
        """The warm-up pass collects each result for the oracle check."""
        self.run_pass(tracer, ops, collect=True)

    def check(self, ops: Ops) -> None:
        import duckdb

        from checks import check_oracle
        from clickhouse_only_importer_prototype_spark import queries

        oracles = queries.oracle_sql()
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{os.path.join(self.sf_dir, t)}.parquet')"
            )
        for name in LLM_QUERIES:
            if name not in self.results:
                ops.add(1, 1, f"{name}: no result to check")
                continue
            cols, rows = self.results[name]
            msg = check_oracle(con, oracles[name], cols, rows)
            ops.add(1, msg is not None, f"{name}: {msg}" if msg else None)
        con.close()

    def layer_metrics(self, rows_by_name: dict, state: dict) -> dict:
        m = {}
        for phase in ("build", "exec"):
            rows = [rows_by_name[f"queries.{n}.{phase}"] for n in LLM_QUERIES]
            for n, r in zip(LLM_QUERIES, rows):
                m[f"queries.{n}.{phase}_s"] = r["s"]
                m[f"queries.{n}.{phase}_jobs"] = r["spark"]["jobs"]
            m[f"queries.{phase}_s"] = sum(r["s"] for r in rows)
            if phase == "build":
                m["queries.build_jobs"] = sum(r["spark"]["jobs"] for r in rows)
        return m

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (ImportWorkload, QueryWorkload)}
# per-layer metric prefixes a workload never exercises
OTHER_LAYERS = {
    ImportWorkload.name: ("queries.",),
    QueryWorkload.name: ("sources.", "plans.", "sinks."),
}


# --- runner ----------------------------------------------------------------


def timed_passes(wl, tracer, ops: Ops, seconds: float) -> list[float]:
    """Passes until their summed wall time reaches ``seconds`` (at
    least one); stops early after a failed operation."""
    durations: list[float] = []
    while not durations or sum(durations) < seconds:
        wl.prepare()
        failed_before = ops.failed
        with tracer.span("pass"):
            t0 = time.perf_counter()
            wl.run_pass(tracer, ops)
            durations.append(time.perf_counter() - t0)
        if ops.failed > failed_before:
            break
    return durations


def _restarted_passes(wl, work: str, ops: Ops, log_dir: str | None):
    """Restart the session (with event logging into ``log_dir`` when
    given), run one untimed warm-up pass, then ``TRACED_PASSES`` timed
    passes, traced when ``log_dir`` is given. Returns the durations,
    the tracer and per pass its root span, spans and workload state."""
    import spans as sp
    from clickhouse_only_importer_prototype_spark.session import get_spark

    wl.spark.stop()
    spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=_spark_conf(work, log_dir))
    wl.start(spark)
    run_id = uuid.uuid4().hex[:12]
    tracer = sp.Tracer(run_id, spark.sparkContext if log_dir else None)
    wl.prepare()
    wl.run_pass(sp.Tracer(run_id), ops)
    durations, per_pass = [], []
    for _ in range(TRACED_PASSES):
        wl.prepare()
        n0 = len(tracer.spans)
        with tracer.span("pass") as root:
            t0 = time.perf_counter()
            wl.run_pass(tracer, ops)
            durations.append(time.perf_counter() - t0)
        per_pass.append((root, tracer.spans[n0:], wl.state))
    return durations, tracer, per_pass


def traced_run(wl, work: str, seed: int, ops: Ops) -> dict:
    """Per-layer metrics. Two restarted sessions run the same
    sequence (warm-up pass, then timed passes): the first untraced,
    as the reference for the tracing overhead, the second with event
    logging, spans and job groups. Jobs are then attributed to spans
    from the event log."""
    import spans as sp

    reference, _, _ = _restarted_passes(wl, work, ops, None)
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    durations, tracer, per_pass = _restarted_passes(wl, work, ops, log_dir)
    wl.spark.stop()  # finalises the event log
    jobs, tasks, stages_run = sp.parse_event_log(log_dir, tracer.spans)
    rows = sp.span_rows(tracer.spans, jobs, tasks, stages_run)
    row_by_id = {r["id"]: r for r in rows}
    metrics_per_pass = []
    for root, pass_spans, state in per_pass:
        by_name = {s.name: row_by_id[s.id] for s in pass_spans}
        m = {f"spark.{k}": v for k, v in row_by_id[root.id]["spark"].items() if k != "output_mb"}
        m.update(wl.layer_metrics(by_name, state))
        metrics_per_pass.append(m)
    metrics = {
        k: statistics.median(m[k] for m in metrics_per_pass)
        for k in metrics_per_pass[0]
    }
    metrics["trace.pass_s"] = statistics.median(durations)
    metrics["trace.overhead_s"] = metrics["trace.pass_s"] - statistics.median(reference)
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, f"trace-{wl.name}-seed{seed}.json"), "w") as fh:
        json.dump(
            {"run_id": tracer.run_id, "workload": wl.name, "seed": seed,
             "untraced_pass_s": reference, "traced_pass_s": durations,
             "layer_metrics": metrics, "spans": rows},
            fh, indent=1,
        )
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    os.makedirs(os.path.join(BENCH_DIR, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(BENCH_DIR, ".work"))
    try:
        _hermetic_env(work)
        return _run(args, work, wanted)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, wanted: list[dict]) -> int:
    import spans as sp
    from clickhouse_only_importer_prototype_spark.session import get_spark

    ops = Ops()
    wl = WORKLOADS[args.workload](work, args.seed)
    off = sp.Tracer("untraced")
    metrics: dict[str, float] = {}
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=_spark_conf(work))
            session_start_s = time.perf_counter() - t0
            wl.start(spark)
            wl.prepare()
            warm_ops = Ops()
            wl.warm_up(off, warm_ops)
            setup_s = time.perf_counter() - t0
            ops.add(warm_ops.attempted, warm_ops.failed, "; ".join(warm_ops.errors) or None)

            if args.trace:
                # the end-to-end passes are skipped: a traced run reports
                # layers only, and the checks read the warm-up's outputs
                wl.check(ops)
                metrics.update(traced_run(wl, work, args.seed, ops))
                metrics["session.start_s"] = session_start_s
            else:
                durations = timed_passes(wl, off, ops, args.seconds)
                pass_s = statistics.median(durations)
                rss = peak_rss_mb()
                wl.check(ops)
                print(
                    f"# {wl.name}: pass_s={pass_s:.3f} s (median of {len(durations)}:"
                    f" {', '.join(f'{d:.3f}' for d in durations)}) setup_s={setup_s:.3f} s"
                    f" (session {session_start_s:.3f} s) peak_rss_mb={rss:.1f} MB"
                    f" ops_failed_frac={ops.failed / max(ops.attempted, 1):.4f}"
                    f" ({ops.failed}/{ops.attempted})",
                    flush=True,
                )
                metrics.update({"pass_s": pass_s, "setup_s": setup_s, "peak_rss_mb": rss})
            metrics["localframe.fallbacks"] = sum(
                1 for w in caught if str(w.message).startswith("arrow_local_df fell back")
            )
    except Exception:  # noqa: BLE001 - reported as a failed run below
        ops.add(1, 1, traceback.format_exc())
    finally:
        wl.close()
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        _stop_jvm()

    for e in ops.errors:
        print(f"# FAILED: {e}", file=sys.stderr)
    if args.trace and not ops.failed:
        # layers the other workload exercises read zero here
        for m in wanted:
            if m["name"].startswith(OTHER_LAYERS[wl.name]):
                metrics.setdefault(m["name"], 0)
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing and not ops.failed:
        ops.add(1, 1, f"metrics not produced: {missing}")
        print(f"# FAILED: metrics not produced: {missing}", file=sys.stderr)
    correct = ops.failed == 0
    if args.trace:
        for m in wanted:
            if m["name"] in metrics:
                print(f"# {m['name']} = {metrics[m['name']]:.6g} {m['unit']}")
    print(json.dumps({
        "correct": correct,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in wanted if m["name"] in metrics
        },
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
