#!/usr/bin/env python3
"""kgforge benchmark: one command, two workloads, end-to-end and per-layer.

    python3 perfbench/run.py --workload {build,serve} --seed S \
        --seconds T --trace {0,1} [--docs N]

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``. A readable report (run context, set-up breakdown, every
metric with its unit, per-operation samples) goes to stderr, and the full
record to ``.perfbench_out/``. Exit status: 0 when every output check
passed, 1 when one failed, 2 when the program is missing.

Workloads (closed loop, one client; see perfbench/BASELINE.md):

* ``build`` -- one cold ``kgforge.pipeline.run_pipeline`` (analytics off)
  of the seed's generated webdocs into an empty directory: the production
  job in a fresh session, which pays JVM class loading, code generation
  and plan compilation once. Exactly one operation per run, whatever
  ``--seconds``, since a later build in the same session is not cold.
* ``serve`` -- graph reads over the committed, day-partitioned ``edges``
  table, in seeded shuffled rounds of all six until ``--seconds`` have
  passed (whole rounds, at least one).

Set-up (``setup_s``) is the session start, input generation and
``kgforge.session.warm_python_workers`` (Python worker start and the
kernels' one-time Unicode scans, which otherwise make the first build's
time swing widely); on ``serve`` also the cold ``run_pipeline`` that builds
the table. The first round of reads is also each read plan's first run in
the session, as for a client that has just built the graph.

Tracing is never on while end-to-end numbers are taken. With ``--trace 1``
the untraced window is followed by the same traced sweep on either
workload: a traced warm build, a traced crash-and-resume, a traced serve
round and WCOJ cycle, and the single-process text-kernel pass. For the
tracing overhead the workload's own operation also runs untraced next to
its traced run: on build one warm build before and one after, on serve one
round after.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DEFAULT_DOCS = 1000
WORKLOADS = ("build", "serve")


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _tail(xs):
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    n = len(xs)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(xs)[n - 11]


# ----------------------------------------------------------- run context


def context(args, nproc: int) -> dict:
    import pyarrow
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        res = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
        )
        commit = res.stdout.strip() or None
    code = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, "kgforge"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    code.update(f.encode() + b"\0" + fh.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "docs": args.docs,
        "seconds": args.seconds,
        "trace": args.trace,
        "commit": commit,
        "code_sha256": code.hexdigest()[:16],
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "loadavg_start": os.getloadavg(),
    }


def start_session(nproc: int, work: str):
    from kgforge.session import get_spark

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    # everything the JVMs and Python write stays in the work directory:
    # Spark's local directories, temp files, and no JVM perf-data file
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = get_spark(
        "kgforge-perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
            "spark.sql.ui.retainedExecutions": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers under it)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    from tracing import ProcTree

    deadline = time.monotonic() + 30
    while len(ProcTree().pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


# ------------------------------------------------------------ the bench


class Bench:
    def __init__(self, args, work: str):
        from tracing import ProcTree

        self.args = args
        self.work = work
        self.tree = ProcTree()
        self.failures: list[str] = []
        self.attempted = 0
        self.samples: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        self.setup: dict[str, float] = {}
        self.edges_digest: str | None = None
        self.results: dict[str, list[tuple]] = {}

    # -- bookkeeping of operations and checks

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: CHECK FAILED: {what}", file=sys.stderr)

    def timed(self, kind: str, fn, *a):
        """One closed-loop operation: wall and process-tree CPU seconds."""
        self.attempted += 1
        c0, t0 = self.tree.cpu_seconds(), time.perf_counter()
        try:
            out = fn(*a)
        except Exception:  # an operation that raises counts as failed
            traceback.print_exc()
            self.fail(f"{kind} raised")
            return None
        wall = time.perf_counter() - t0
        self.samples.setdefault(kind, []).append(wall)
        self.cpu.setdefault(kind, []).append(self.tree.cpu_seconds() - c0)
        return out

    def out_dir(self, name: str) -> str:
        return os.path.join(self.work, "out", name)

    # -- pipeline operations

    def build(self, out: str, kind: str = "build"):
        """run_pipeline with its defaults (resume on): a build into an
        empty ``out``, a resume into a partly committed one."""
        from kgforge.pipeline import run_pipeline

        webdocs, alias = self.inputs["webdocs"], self.inputs["alias"]
        return self.timed(kind, lambda: run_pipeline(self.spark, webdocs, alias, out))

    def check_build(self, out: str, label: str) -> None:
        """triples_raw equals the single-process oracle; the edge table
        keeps one row per triple and its digest matches every other build
        and resume of this run."""
        from workloads import digest, edges_rows, triples_multiset

        if triples_multiset(self.spark, out) != self.oracle.triples:
            self.fail(f"{label}: triples_raw differs from the single-process oracle")
        edges = edges_rows(self.spark, out)
        if len(edges) != sum(self.oracle.triples.values()):
            self.fail(f"{label}: edges has {len(edges)} rows for "
                      f"{sum(self.oracle.triples.values())} triples")
        d = digest(edges)
        self.edges_digest = self.edges_digest or d
        if d != self.edges_digest:
            self.fail(f"{label}: edges digest {d} != {self.edges_digest}")

    # -- graph operations

    def serve_round(self, table, rng: random.Random, prefix: str, tracer=None) -> None:
        from workloads import QUERIES, run_query

        for name in rng.sample(sorted(QUERIES), len(QUERIES)):
            if tracer is None:
                rows = self.timed(f"{prefix}{name}", run_query, table, name)
            else:
                with tracer.span(f"graph.{name}", udf_time=True):
                    rows = self.timed(f"{prefix}{name}", run_query, table, name)
            if rows is None:
                continue
            first = self.results.setdefault(name, rows)
            if rows != first:
                self.fail(f"{name}: result differs between repetitions")

    def check_graph(self, out: str) -> None:
        from workloads import digest, edges_rows, graph_oracle

        edges = edges_rows(self.spark, out)
        self.edges_digest = self.edges_digest or digest(edges)
        expected = graph_oracle(edges)
        for name, rows in self.results.items():
            if rows != expected[name]:
                self.fail(f"{name}: {len(rows)} rows, plain-Python evaluation "
                          f"gives {len(expected[name])}")

    def check_wcoj(self, table, tracer) -> None:
        from workloads import run_wcoj_cycle

        with tracer.span("graph.wcoj", udf_time=True):
            rows = self.timed("wcoj_cycle", run_wcoj_cycle, table)
        if rows is not None and "bgp_cycle" in self.results and rows != self.results["bgp_cycle"]:
            self.fail("match_bgp_cycle rows differ from the binary-plan cycle")

    # -- the run

    def run(self) -> dict:
        from kgforge.session import warm_python_workers
        from tracing import PeakRss
        from workloads import EdgeTable, TextOracle, make_inputs, stored_bytes

        args = self.args
        nproc = len(os.sched_getaffinity(0))
        self.ctx = context(args, nproc)

        t_setup = t = time.perf_counter()
        self.spark = start_session(nproc, self.work)
        self.setup["session"] = time.perf_counter() - t
        try:
            t = time.perf_counter()
            self.inputs = make_inputs(
                os.path.join(self.work, "input"), args.seed, args.docs, 2 * nproc)
            self.setup["inputs"] = time.perf_counter() - t
            self.ctx["inputs_fingerprint"] = self.inputs["fingerprint"]
            self.ctx["doc_window"] = self.inputs["window"]
            t = time.perf_counter()
            warm_python_workers(self.spark, nproc)
            self.setup["warm"] = time.perf_counter() - t
            main = self.out_dir("main")
            rng = random.Random(args.seed)
            if args.workload == "serve":
                t = time.perf_counter()
                self.build(main, kind="prebuild")
                self.setup["prebuild"] = time.perf_counter() - t
                table = EdgeTable(self.spark, os.path.join(main, "edges"))
            self.setup_s = time.perf_counter() - t_setup

            # ---- timed window (untraced), closed loop
            rss = PeakRss(self.tree).start()
            t_window = time.perf_counter()
            if args.workload == "build":
                self.build(main)
            else:
                while True:
                    self.serve_round(table, rng, "q.")
                    if time.perf_counter() - t_window >= args.seconds:
                        break
            self.peak_rss = rss.stop()
            self.stored = stored_bytes(main)

            # ---- output checks (untimed)
            if args.workload == "build" or args.trace:
                self.oracle = TextOracle(self.inputs["docs"])
            if args.workload == "build":
                self.check_build(main, "build")
            else:
                self.check_graph(main)

            layers = self.trace_sweep() if args.trace else None
        finally:
            self.ctx["loadavg_end"] = os.getloadavg()
            self.ctx["edges_digest"] = self.edges_digest
            stop_session(self.spark)
        return self.e2e() if not args.trace else layers

    # -- metrics

    def window(self) -> tuple[float, float]:
        """(wall, process-tree CPU) seconds of one operation: the build, or
        a round as the sum of the six per-read medians."""
        from workloads import QUERIES

        kinds = ["build"] if self.args.workload == "build" else [f"q.{n}" for n in QUERIES]
        return (sum(_median(self.samples.get(k, [])) for k in kinds),
                sum(_median(self.cpu.get(k, [])) for k in kinds))

    def e2e(self) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "cpu_s": (self.window()[1], "s"),
            "stored_bytes_per_input_byte": (self.stored / self.inputs["input_bytes"], "B/B"),
        }

    def trace_sweep(self) -> dict:
        """The traced half of a --trace 1 run; returns the per-layer
        metrics (same sweep on either workload)."""
        import contextlib

        import kgforge.io.tables as tables
        import kgforge.stages.link as link
        from kgforge.pipeline import STAGES
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import DoubleType
        from tracing import Tracer, self_times, sql_metric_max, stage_metrics
        from workloads import EdgeTable, QUERIES, crash, linked_mention_ratio, part_files

        spark = self.spark
        tr = Tracer(spark)
        scored = spark.sparkContext.accumulator(0)
        score = link._pair_score.func

        @pandas_udf(DoubleType())
        def counted_pair_score(mention, canon, prior):
            scored.add(len(mention))
            return score(mention, canon, prior)

        def stage_of(df, path, stage, *a, **k):
            return f"stages.{stage}"

        @contextlib.contextmanager
        def traced(run_id):
            """Spans around kgforge's io.tables functions, the link scorer
            counted, and the perf UDF profiler on -- only inside."""
            tr.run_id = run_id
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            tr.wrap(tables, "write_table", stage_of, udf_time=True)
            tr.wrap(tables, "table_checksum", lambda *a, **k: "io.tables.checksum")
            tr.wrap(tables, "partition_lineage", lambda *a, **k: "io.tables.lineage")
            tr.wrap(tables, "write_lineage_table", lambda *a, **k: "io.tables.lineage")
            for fn in ("commit_manifest", "is_committed", "read_manifest"):
                tr.wrap(tables, fn, lambda *a, **k: "io.tables.manifest")
            tr.wrap(tables, "read_table", lambda *a, **k: "io.tables.read")
            tr.replace(link, "_pair_score", counted_pair_score)
            try:
                yield
            finally:
                tr.unpatch()
                spark.conf.unset("spark.sql.pyspark.udf.profiler")
                spark.profile.clear(type="perf")

        # the workload's own operation also runs untraced around its traced
        # run (builds keep getting faster for a few runs as the JIT warms:
        # the traced build is compared with the mean of its neighbours)
        own_build = self.args.workload == "build"
        out = self.out_dir("traced")
        if own_build:
            self.build(self.out_dir("untraced0"), kind="sweep.build")
        with traced("build"), tr.span("pipeline"):
            self.build(out, kind="sweep.traced_build")
        self.check_build(out, "traced build")
        if own_build:
            self.build(self.out_dir("untraced1"), kind="sweep.build")
            self.check_build(self.out_dir("untraced1"), "untraced build")
        crash(out)
        with traced("resume"), tr.span("pipeline"):
            self.build(out, kind="sweep.traced_resume")  # resumes: out is committed
        self.check_build(out, "traced resume")

        # on build this round is also the first run of the read plans
        rng = random.Random(self.args.seed)
        table = EdgeTable(spark, os.path.join(out, "edges"))
        with traced("serve"):
            self.serve_round(table, rng, "sweep.traced.", tracer=tr)
            self.check_wcoj(table, tracer=tr)
        if not own_build:
            self.serve_round(table, rng, "sweep.untraced.")
        self.check_graph(out)
        m: dict[str, tuple[float, str]] = {}

        # ---- session / kernels
        m["session.start_s"] = (self.setup["session"], "s")
        m["session.warm_s"] = (self.setup["warm"], "s")
        m["process.wall_s"] = (self.window()[0], "s")
        m["process.peak_rss_mb"] = (self.peak_rss / 2**20, "MB")
        o = self.oracle
        n_triples = sum(o.triples.values())
        m["textnorm.us_per_doc"] = (1e6 * o.textnorm_s / o.n_docs, "us")
        m["textnorm.chunks_per_doc"] = (o.chunks / o.n_docs, "count")
        m["extract.us_per_doc"] = (1e6 * o.extract_s / o.n_docs, "us")
        m["extract.triples_per_doc"] = (n_triples / o.n_docs, "count")
        m["oracle.docs_per_s"] = (o.n_docs / (o.textnorm_s + o.extract_s), "1/s")

        # ---- pipeline: stages, io.tables, linking
        spans = tr.run_spans("build")
        selfs = self_times(spans)
        by_name: dict[str, float] = {}
        for s in spans:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + selfs[s["id"]]
        sm = stage_metrics(spark, tr.prefix + ":build:")
        wall = sum(s["end"] - s["start"] for s in spans if s["name"] == "pipeline")
        for st in STAGES:
            agg = sm.get(f"{tr.prefix}:build:stages.{st}", {})
            m[f"stages.{st}.run_s"] = (by_name.get(f"stages.{st}", 0.0), "s")
            m[f"stages.{st}.cpu_s"] = (agg.get("cpu_s", 0.0), "s")
            m[f"stages.{st}.python_s"] = (
                sum(s.get("python_s", 0.0) for s in spans if s["name"] == f"stages.{st}"), "s")
            m[f"stages.{st}.rows_out"] = (agg.get("rows_out", 0), "count")
            m[f"stages.{st}.shuffle_bytes"] = (agg.get("shuffle_bytes", 0), "B")
            m[f"stages.{st}.spill_bytes"] = (agg.get("spill_bytes", 0), "B")
        for key, span_name in (("checksum_s", "io.tables.checksum"),
                               ("lineage_s", "io.tables.lineage"),
                               ("manifest_s", "io.tables.manifest"),
                               ("read_s", "io.tables.read")):
            m[f"io.tables.{key}"] = (by_name.get(span_name, 0.0), "s")
        bookkeeping = sum(m[f"io.tables.{k}"][0] for k in ("checksum_s", "lineage_s", "manifest_s"))
        m["io.tables.bookkeeping_share"] = (bookkeeping / wall, "ratio")
        # the stage tables only: the lineage table holds commit timestamps,
        # so its compressed size changes from run to run
        m["io.tables.bytes_written"] = (
            sum(v["output_bytes"] for k, v in sm.items()
                if k.split(":", 2)[2].startswith("stages.")), "B")
        m["io.tables.files_written"] = (
            sum(part_files(os.path.join(out, s)) for s in [*STAGES, "lineage"]), "count")
        written = {s["name"] for s in tr.run_spans("resume") if s["name"].startswith("stages.")}
        m["io.tables.resume_reuse_ratio"] = ((len(STAGES) - len(written)) / len(STAGES), "ratio")
        m["linking.pair_score_rows"] = (scored.value, "count")
        m["linking.linked_mention_ratio"] = (linked_mention_ratio(spark, out), "ratio")
        m["pipeline.driver_s"] = (by_name.get("pipeline", 0.0), "s")
        m["pipeline.wall_s"] = (wall, "s")
        m["pipeline.resume_wall_s"] = (self.samples["sweep.traced_resume"][0], "s")

        # ---- graph
        gm = stage_metrics(spark, tr.prefix + ":serve:")
        for name in QUERIES:
            agg = gm.get(f"{tr.prefix}:serve:graph.{name}", {})
            m[f"graph.{name}.wall_s"] = (self.samples[f"sweep.traced.{name}"][0], "s")
            m[f"graph.{name}.cpu_s"] = (agg.get("cpu_s", 0.0), "s")
            m[f"graph.{name}.shuffle_bytes"] = (agg.get("shuffle_bytes", 0), "B")
            m[f"graph.{name}.rows_out"] = (len(self.results[name]), "count")
            m[f"graph.{name}.tasks"] = (agg.get("tasks", 0), "count")
        m["graph.window_topk.partitions_read"] = (
            sql_metric_max(spark, f"{tr.prefix}:serve:graph.window_topk", "number of partitions read"),
            "count")
        m["graph.wcoj.cycle_s"] = (self.samples["wcoj_cycle"][-1], "s")

        # ---- tracing overhead: traced minus untraced wall of the
        # workload's own (warm) operation
        if own_build:
            untraced = statistics.mean(self.samples["sweep.build"])
            traced = self.samples["sweep.traced_build"][0]
        else:
            untraced = sum(self.samples[f"sweep.untraced.{n}"][0] for n in QUERIES)
            traced = sum(self.samples[f"sweep.traced.{n}"][0] for n in QUERIES)
        m["trace.overhead_s"] = (traced - untraced, "s")
        self.spans = tr.spans
        return m


# ------------------------------------------------------------- reporting


def report(bench: Bench, metrics: dict, correct: bool) -> None:
    err = sys.stderr
    ctx = bench.ctx
    print(f"perfbench {ctx['workload']} seed={ctx['seed']} docs={ctx['docs']} "
          f"master={ctx['master']} nproc={ctx['nproc']} commit={ctx['commit']} "
          f"code={ctx['code_sha256']} inputs={ctx.get('inputs_fingerprint')}", file=err)
    print(f"  pyspark={ctx['pyspark']} pyarrow={ctx['pyarrow']} python={ctx['python']} "
          f"loadavg start={ctx['loadavg_start']} end={ctx.get('loadavg_end')}", file=err)
    print("  setup: " + ", ".join(f"{k} {v:.3f} s" for k, v in bench.setup.items()), file=err)
    for kind, xs in bench.samples.items():
        line = f"  op {kind}: n={len(xs)} median={_median(xs):.4f} s"
        tail = _tail(xs)
        if tail:
            line += f" p{tail[0]:.0f}={tail[1]:.4f} s"
        print(line, file=err)
    queries = [x for k, xs in bench.samples.items() if k.startswith("q.") for x in xs]
    if queries:
        tail = _tail(queries)
        print(f"  queries: n={len(queries)} p50={_median(queries):.4f} s "
              + (f"p{tail[0]:.0f}={tail[1]:.4f} s" if tail else "tail n/a (< 11 samples)"),
              file=err)
    wall, cpu = bench.window()
    print(f"  operation: wall {wall:.4f} s, process-tree CPU {cpu:.2f} s"
          + (f", docs_per_s {bench.args.docs / wall:.1f} 1/s"
             if bench.args.workload == "build" else ""), file=err)
    print(f"  {'metric':44s} {'value':>16s}  unit", file=err)
    for name, (value, unit) in metrics.items():
        print(f"  {name:44s} {value:16.6g}  {unit}", file=err)
    print(f"  correct={correct} attempted={bench.attempted} failed={len(bench.failures)} "
          f"failed_ratio={len(bench.failures) / max(1, bench.attempted):.4f}", file=err)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=DEFAULT_DOCS,
                    help=f"documents per run (default {DEFAULT_DOCS})")
    args = ap.parse_args(argv)
    if args.docs < 100 or args.seed < 0 or args.seconds <= 0:
        ap.error("--docs must be >= 100, --seed >= 0 and --seconds > 0")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kgforge", "pipeline.py")):
        print(f"perfbench: no kgforge package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    bench = Bench(args, work)
    try:
        metrics = bench.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    correct = not bench.failures
    report(bench, metrics, correct)

    record = {"context": bench.ctx, "setup": bench.setup, "samples": bench.samples,
              "cpu": bench.cpu, "failures": bench.failures,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    if args.trace:
        record["spans"] = bench.spans
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": record["metrics"],
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
