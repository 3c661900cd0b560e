"""End-to-end benchmark of the engine on seeded corpora.

    python3 perfbench/run.py --workload topic_analysis --seed 1 --seconds 1 --trace 0

Run from the repository root. The benchmark generates its corpus from
``--seed`` (``gen.py``), starts a Spark session on ``local[<cpus>]``, runs
the workload through the engine's public entry point with cold memos, checks
every output against the generator's planted truth and prints one JSON
result as its last line of standard output.

``--trace 0`` reports the end-to-end metrics. Each pass is a fresh, cold
analysis: memos cleared, Spark's cache cleared, a new output directory. The
first pass of a process is also JVM-cold, which is what a one-shot analysis
job pays; passes repeat while they fit in ``--seconds``.

``--trace 1`` reports the per-layer metrics (``metrics.py``) from a traced
replay of the same stages, in the same order, wrapped in spans, with Spark's
event log on, as the process's first pass (JVM-cold, like the untraced
runs). The ``curation_batch`` traced run then replays the corpus as a
stream through ``run_incremental_manifest``. Spans are written to
``.perfbench_work/trace-<workload>-<seed>.jsonl``, followed by a summary
record with the tracing overhead: the traced pass's time minus the median
untraced ``run_s`` recorded for the same workload and code by earlier
``--trace 0`` runs in this checkout (null, and logged as not measured, when
there are none yet).

All files go under ``.perfbench_work/`` in the repository root. A run's
corpus, outputs, Spark temp files and event log are removed at exit; kept
are the trace files and a ledger per workload and per version of the
program and the benchmark: untraced run times (the overhead baseline) and,
per corpus, the output tables' row counts and the manifest digest, which
every later pass on the same corpus, traced or not, must reproduce. The
first pass on a corpus records them, so these two checks bind from the
second run of a seed on.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "topic_modeling_ajin_spark"
N_STREAM_BATCHES = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def driver_heap_gb() -> int:
    """2 GB, or a quarter of physical memory on a smaller machine."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return max(1, min(2, int(ram_gb // 4)))


def pin_env(work: str) -> None:
    """Environment for this process, its JVM and its Python workers."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_heap_gb()}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    sys.path.insert(0, ROOT)


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
            f"-Xlog:gc,gc+heap=debug:file={os.path.join(work, 'gc.log')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


class Bench:
    def __init__(self, args, work: str):
        from perfbench import gen

        self.args = args
        self.work = work
        self.sf = os.path.join(work, "corpus")
        self.truth = gen.write_corpus(args.seed, self.sf, gen.SPECS[args.workload])
        # a record kept across runs in this checkout, per workload and per
        # version of the program and the benchmark: untraced run times (the
        # traced run's overhead baseline) and, per corpus, the output row
        # counts and the manifest digest, which every later pass on that
        # corpus must reproduce
        code = hashlib.sha256()
        sources = sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True))
        sources += sorted(glob.glob(os.path.join(HERE, "*.py")))
        for path in sources:
            with open(path, "rb") as f:
                code.update(f.read())
        corpus = hashlib.sha256()
        for t in ("documents", "embeddings"):
            with open(os.path.join(self.sf, f"{t}.parquet"), "rb") as f:
                corpus.update(f.read())
        self.corpus_key = corpus.hexdigest()[:16]
        self.ledger_path = os.path.join(
            os.path.dirname(work), f"ledger-{args.workload}-{code.hexdigest()[:16]}.json"
        )
        self.ledger = load_ledger(self.ledger_path)
        self.attempted = 0
        self.failed = 0
        self.values: dict[str, float] = {}
        self.n_pass = 0
        self.spark = None

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        from perfbench import tracing

        t0 = time.perf_counter()
        from topic_modeling_ajin_spark.session import get_spark

        t1 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=spark_conf(self.work, self.args.trace))
        t2 = time.perf_counter()
        from topic_modeling_ajin_spark.registry import load_all

        load_all()
        self.values["setup_s"] = time.perf_counter() - t0
        self.values["session.start_s"] = t2 - t1
        # a collection now puts the heap's address range in the GC log
        self.live_heap_mb()
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.heap_range = tracing.gc_heap_range(os.path.join(self.work, "gc.log"))
        if self.heap_range is None:
            raise RuntimeError("the JVM's GC log shows no heap address range")

    def stop(self) -> None:
        """Stop Spark and wait for the driver JVM (and the Python workers
        it forked) to exit: it dies when its stdin pipe closes."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def fresh_out(self) -> str:
        from topic_modeling_ajin_spark import cache

        cache.clear_caches(self.spark)
        self.spark.catalog.clearCache()
        self.n_pass += 1
        out = os.path.join(self.work, f"out{self.n_pass}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def attempt(self, label: str, fn, check) -> bool:
        """Run one operation; it fails if it raises or its check finds a
        problem."""
        self.attempted += 1
        try:
            fn()
            problems = check()
        except Exception:
            traceback.print_exc()
            problems = [f"{label} raised"]
        for p in problems:
            log(f"FAILED CHECK {label}: {p}")
        if problems:
            self.failed += 1
        return not problems

    # ------------------------------------------------------------ passes
    def timed_pass(self, out: str, traced=None) -> tuple[float, float, int]:
        """One pass into ``out``: (wall seconds, driver memory MB, memo
        entries released after it).

        Driver memory is the Python process's peak resident memory during
        the pass, plus, at its end, the JVM's resident memory outside its
        heap and the heap's live data (its occupancy after a full
        collection). The heap's resident size is not used: it is what G1
        chose to commit and touch, which follows GC timing and swung by
        0.5 GB between runs of the same work."""
        from perfbench import tracing
        from perfbench import workloads as W
        from topic_modeling_ajin_spark import cache

        wl = self.args.workload
        with tracing.PeakRss(os.getpid()) as rss:
            t = time.perf_counter()
            if traced is None:
                (W.topic_pass if wl == "topic_analysis" else W.curation_pass)(self.spark, self.sf, out)
            else:
                replay = W.topic_replay if wl == "topic_analysis" else W.curation_replay
                replay(self.spark, self.sf, out, traced)
            dt = time.perf_counter() - t
        _, other_mb = tracing.resident_split_mb(self.jvm_pid, *self.heap_range)
        live_mb = self.live_heap_mb()
        log(f"MB: python peak {rss.peak_mb:.0f}, jvm outside heap {other_mb:.0f}, "
            f"live heap {live_mb:.0f}")
        entries = cache.clear_caches(self.spark)
        return dt, rss.peak_mb + other_mb + live_mb, entries

    def live_heap_mb(self) -> float:
        """Run a full collection and read the heap occupancy after it from
        the GC log."""
        from perfbench import tracing

        gc_log = os.path.join(self.work, "gc.log")
        offset = os.path.getsize(gc_log)
        self.spark._jvm.java.lang.System.gc()
        live = tracing.gc_full_after_mb(gc_log, offset)
        if live is None:
            raise RuntimeError("no full collection in the JVM's GC log")
        return live

    def check_out(self, out: str) -> list[str]:
        from perfbench import workloads as W

        # every pass, traced or not, must write the tables (and row counts)
        # the first recorded pass on this corpus wrote
        shape = W.output_shape(out)
        problems = []
        seen = self.ledger.setdefault("corpora", {}).setdefault(self.corpus_key, {})
        if seen.setdefault("shape", shape) != shape:
            problems.append("outputs differ from an earlier pass on this corpus")
        if self.args.workload == "topic_analysis":
            problems += W.check_topic(W.load_topic_tables(out), self.truth)
        else:
            tables = W.load_curation_tables(out)
            problems += W.check_curation(tables, self.truth)
            digest = W.manifest_digest(tables["manifest"])
            if seen.setdefault("digest", digest) != digest:
                problems.append("manifest digest differs from an earlier run on this corpus")
        self.save_ledger()
        return problems

    def save_ledger(self) -> None:
        tmp = f"{self.ledger_path}.{os.getpid()}.tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(self.ledger, f)
        os.replace(tmp, self.ledger_path)

    def untraced_passes(self) -> None:
        runs, mems = [], []
        start = time.perf_counter()
        while True:
            out = self.fresh_out()
            res = {}

            def go():
                res["r"] = self.timed_pass(out)

            ok = self.attempt("pass", go, lambda: self.check_out(out))
            if "r" in res:
                runs.append(res["r"][0])
                mems.append(res["r"][1])
                log(f"pass {self.n_pass}: run_s={res['r'][0]:.3f} driver_mem_mb={res['r'][1]:.1f} ok={ok}")
            shutil.rmtree(out, ignore_errors=True)
            if time.perf_counter() - start >= self.args.seconds or not runs:
                break
        from perfbench.tracing import median

        self.values["run_s"] = median(runs)
        self.values["driver_mem_mb"] = median(mems)
        self.ledger.setdefault("run_s", []).extend(runs)
        self.save_ledger()

    def traced_run(self) -> None:
        from perfbench import tracing
        from perfbench import workloads as W

        # the traced replay, JVM-cold like every untraced run
        tracer = tracing.Tracer()
        out = self.fresh_out()
        res: dict = {}

        def go():
            res["a"] = self.timed_pass(out, traced=tracer)

        self.attempt("traced pass", go, lambda: self.check_out(out))
        if "a" in res:
            wall, _, self.values["cache.entries"] = res["a"]
            in_bytes = sum(
                os.path.getsize(os.path.join(self.sf, f"{t}.parquet"))
                for t in ("documents", "embeddings")
            )
            self.values["sources.out_bytes_per_in_byte"] = W.dir_bytes(out) / in_bytes
            tops = sum(s.dur for s in tracer.spans if s.parent is None)
            self.values["trace.unaccounted_s"] = wall - tops
            # the overhead baseline is the untraced passes of this workload
            # and code recorded in this checkout, over all seeds (a seed
            # changes the corpus, not its size or planted counts); without
            # one the overhead is reported as not measured, never as 0
            untraced = self.ledger.get("run_s", [])
            base = tracing.median(untraced) if untraced else None
            tracer.summary.update(
                traced_run_s=wall,
                untraced_run_s_median=base,
                n_untraced=len(untraced),
                overhead_s=None if base is None else wall - base,
                unaccounted_s=wall - tops,
            )
            if base is None:
                log("tracing overhead not measured: no untraced run of this workload recorded")
            else:
                log(f"tracing overhead {wall - base:.3f}s: traced pass {wall:.3f}s, "
                    f"untraced median {base:.3f}s over {len(untraced)} passes")
        shutil.rmtree(out, ignore_errors=True)

        from perfbench.metrics import LAYER_ON

        probed = {layer for layer, on in LAYER_ON.items() if self.args.workload in on}
        self.attempt(
            "layer probes", lambda: W.layer_probes(self.spark, self.sf, tracer, probed), list
        )
        if self.args.workload == "curation_batch":
            self.stream(tracer)

        self.stop()
        trace_file = os.path.join(
            os.path.dirname(self.work), f"trace-{self.args.workload}-{self.args.seed}.jsonl"
        )
        tracer.write(trace_file)
        from perfbench.metrics import TIME_NAME as names

        for layer, t in tracer.self_times().items():
            if layer in names:
                self.values[names[layer]] = t
        for layer, counters in tracing.event_log_totals(
            os.path.join(self.work, "eventlog"), tracer
        ).items():
            for k, v in counters.items():
                self.values[f"{layer}.{k}"] = v
        for s in tracer.spans:
            log(f"span {s.kind:5s} {s.name:40s} {s.dur:9.3f}s")
        log(f"spans written to {trace_file}")

    def stream(self, tracer) -> None:
        from perfbench import tracing
        from perfbench import workloads as W

        base = os.path.join(self.work, "stream")
        staging = os.path.join(base, "in")
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(self.sf, "documents.parquet")).to_pylist()
        W.stage_stream(docs, staging, N_STREAM_BATCHES)
        progress: list[dict] = []
        listener = tracing.progress_listener(progress)
        self.spark.streams.addListener(listener)

        def go():
            with tracer.span("streaming"):
                W.stream_pass(self.spark, staging, base)

        def check():
            cards = W.read_rows(os.path.join(base, "out", "card"))
            return W.check_stream(cards, self.truth)

        ok = self.attempt("stream", go, check)
        deadline = time.time() + 10
        while len([p for p in progress if "addBatch" in p["durationMs"]]) < N_STREAM_BATCHES:
            if time.time() > deadline:
                break
            time.sleep(0.1)
        self.spark.streams.removeListener(listener)
        batches = [p["durationMs"] for p in progress if "addBatch" in p["durationMs"]]
        if ok and batches:
            trig = [d["triggerExecution"] / 1000 for d in batches]
            add = [d["addBatch"] / 1000 for d in batches]
            self.values["streaming.trigger_p50_s"] = tracing.median(trig)
            self.values["streaming.add_batch_p50_s"] = tracing.median(add)
            self.values["streaming.overhead_p50_s"] = tracing.median(
                [t - a for t, a in zip(trig, add)]
            )
            store = W.dir_bytes(os.path.join(base, "store")) + W.dir_bytes(
                os.path.join(base, "store_shingles")
            )
            n = self.truth["n_docs"]
            self.values["streaming.store_bytes_per_doc"] = store / n
            cards = W.read_rows(os.path.join(base, "out", "card"))
            self.values["streaming.pool_ratio"] = sum(c["n_pool_delta"] for c in cards) / n
            log(f"stream batches: {batches}")


def load_ledger(path: str) -> dict:
    """The ledger at ``path``; a missing or unreadable one is empty."""
    try:
        with open(path, encoding="utf-8") as f:
            ledger = json.load(f)
    except (OSError, ValueError):
        return {}
    return ledger if isinstance(ledger, dict) else {}


def main(argv=None) -> int:
    from_root = os.path.isdir(os.path.join(ROOT, PACKAGE))
    ap = argparse.ArgumentParser(description="End-to-end benchmark of the engine.")
    ap.add_argument("--workload", required=True, choices=("topic_analysis", "curation_batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not from_root:
        log(f"no {PACKAGE}/ beside {os.path.basename(HERE)}/: run from a full checkout")
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_env(work)
    from perfbench.metrics import result_line

    bench = Bench(args, work)
    try:
        bench.setup()
        if args.trace:
            bench.traced_run()
        else:
            bench.untraced_passes()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    ok_ratio = 1.0 - bench.failed / max(bench.attempted, 1)
    bench.values["ok_ratio"] = ok_ratio
    print(
        json.dumps(
            result_line(bench.failed == 0, max(bench.attempted, 1), bench.failed, bench.values, bool(args.trace))
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
