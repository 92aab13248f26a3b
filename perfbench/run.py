#!/usr/bin/env python3
"""xponents_spark benchmark: seeded workloads, end-to-end and per layer.

    python3 perfbench/run.py --workload chat_mix --seed 1 --seconds 8 \\
        --trace 0

Run from the repository root.  ``--trace 0`` is the timed run: set-up
(median of three session starts, each ending with a cold pass over a fixed
slice of the input), untimed warm passes, then closed-loop passes over
the whole input for ``--seconds`` (at least three), each submitted after
the previous one completes, at ``local[<cores>]``.  ``--trace 1`` is the
separate traced run that gives the per-layer numbers.  Both check the
engine's outputs.  README.md defines every metric.

Progress goes to stderr.  The second-to-last stdout line is the detail
object (samples, input shape, digests, rates); the last is the result.
Everything the run writes lives under ``.perfbench_work/`` in the current
directory: per-run scratch (removed at exit) and the reference gazetteer,
built on first use.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("chat_mix", "geo_dense")
SETUPS = 3                   # session starts per timed run (median)
MIN_PASSES = 3
# untimed passes over the whole input after set-up: on 4 cores the first
# pass after set-up ran up to 40% slower than later ones on geo_dense, and
# the second up to 15% slower on chat_mix
WARM_PASSES = 2
TRACE_SAMPLE = {"chat_mix": 800, "geo_dense": 40}   # driver-side turns

END_TO_END = (("throughput_rps", "records/s"), ("setup_s", "s"),
              ("worker_private_mb", "MB"))
_DEDUP = ("minhash_near_dups", "winnow_near_dups", "duplicated_spans")
PER_LAYER = (
    ("textract.extract_main_content.us_per_turn", "us"),
    ("extractors.xcoord.extract_coordinates.us_per_turn", "us"),
    ("extractors.xcoord.matches", "1/turn"),
    ("extractors.xcoord.kept_ratio", "ratio"),
    ("extractors.xtemporal.extract_dates.us_per_turn", "us"),
    ("extractors.xtemporal.matches", "1/turn"),
    ("extractors.xtemporal.kept_ratio", "ratio"),
    ("extractors.poli.extract_poli.us_per_turn", "us"),
    ("extractors.poli.matches", "1/turn"),
    ("gazetteer.geocode.us_per_turn", "us"),
    ("gazetteer.geocode.matches", "1/turn"),
    ("gazetteer.geocode.kept_ratio", "ratio"),
    ("gazetteer.index_build_s", "s"),
    ("gazetteer.index_private_mb", "MB"),
    ("gazetteer.spatial.reverse_geocode.us_per_call", "us"),
    ("gazetteer.spatial.reverse_geocode.calls", "1/turn"),
    ("pipeline.extract_turn.us_per_turn", "us"),
    ("pipeline.assembly_self_us", "us"),
    ("pipeline.handoff_s", "s"),
    ("plans.shuffle_write_mb", "MB"),
    ("plans.shuffle_read_mb", "MB"),
    ("plans.partition_rows_max_over_mean", "ratio"),
    ("plans.write_s", "s"),
    ("plans.checkpoints.bucket_s_p50", "s"),
    ("plans.checkpoints.bucket_jobs", "count"),
    ("sources.scan_mb", "MB"),
    ("sources.scan_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.jvm_gc_s", "s"),
    ("spark.tasks", "count"),
    ("spark.task_s_p50", "s"),
    ("spark.task_s_p90", "s"),
    ("spark.failed_tasks", "count"),
    ("operators.textstats.gopher_quality_filter_full_s", "s"),
    ("operators.textstats.repetition_stats_s", "s"),
    ("operators.dedup.minhash_near_dups_s", "s"),
    ("operators.dedup.winnow_near_dups_s", "s"),
    ("operators.dedup.duplicated_spans_s", "s"),
    ("operators.dedup.planted_pair_recall", "ratio"),
    ("operators.dedup.duplicated_spans_rows", "count"),
    *((f"operators.dedup.{op}.{m}", u) for op in _DEDUP
      for m, u in (("shuffle_write_mb", "MB"), ("task_s_p90", "s"))),
    ("error_rate", "fraction"),
    ("degraded_rate", "fraction"),
    ("scaling_eff", "ratio"),
    ("trace.overhead_pct", "%"),
)

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``.

    The JVM runs with C1 only (``-XX:TieredStopAtLevel=1``).  With the
    default tiered JIT, C2 compiler threads compete with the pyspark
    workers for the cores: on 4 cores a chat_mix pass spent 3-4 s of JVM
    CPU for about six passes (15 s) before settling at 1.4 s, and that
    drift made run medians depend on where the timed passes fell.  C1 alone
    settles within two passes at 0.9 s of JVM CPU per pass, and passes are
    about 10% faster."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote("spark.sql.warehouse.dir="
                              + os.path.join(work, "warehouse")),
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                    "-XX:TieredStopAtLevel=1"),
        "pyspark-shell"])


def start_session(cores: int):
    from workloads import partitions
    from xponents_spark.session import get_spark
    spark = get_spark(app="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=partitions(cores))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def median_time(fn, reps: int = 3) -> float:
    return statistics.median(timed(fn)[0] for _ in range(reps))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- shared by both runs ------------------------------------------------------
# Every job runs under a job group set with setJobGroup: the REST API and
# the status tracker select a pass's stages by it, and its description
# labels the job in the Spark UI.

def setup(wl, inp, cores: int, run_dir: str, samples: int):
    """Start ``samples`` sessions, each ending with a cold pass over the
    fixed slice; keep the last one and warm it.  The first start launches
    the JVM; later ones start a fresh SparkContext in it (new pyspark
    workers, pattern compilation and index builds)."""
    setups, starts = [], []
    spark = None
    try:
        for i in range(samples):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(cores)
            starts.append(time.perf_counter() - t0)
            spark.sparkContext.setJobGroup("perfbench-setup",
                                           "perfbench setup")
            wl.run_pass(spark, inp.slice, os.path.join(run_dir, f"setup{i}"))
            setups.append(time.perf_counter() - t0)
            log(f"setup {i}: {setups[-1]:.2f} s "
                f"(session {starts[-1]:.2f} s)")
        # untimed passes over the whole input: JIT and worker caches warm
        # up at the measured size, not at the slice's
        spark.sparkContext.setJobGroup("perfbench-warm", "perfbench warm-up")
        for i in range(WARM_PASSES):
            wl.run_pass(spark, inp.src, os.path.join(run_dir, f"warm{i}"))
    except BaseException:
        if spark is not None:
            spark.stop()
        raise
    return spark, setups, starts


def closed_loop(wl, spark, inp, run_dir: str, seconds: float,
                after_pass=None) -> list[dict]:
    """Passes over the whole input until ``seconds`` have been measured."""
    sc = spark.sparkContext
    passes = []
    end = time.perf_counter() + seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < end:
        i = len(passes)
        group = f"perfbench-{wl.name}-pass-{i}"
        sc.setJobGroup(group, f"perfbench {wl.name} seed {inp.seed} pass {i}")
        out = os.path.join(run_dir, f"pass{i}")
        dt, info = timed(wl.run_pass, spark, inp.src, out)
        p = {"s": dt, "out": out, "group": group, "info": info}
        if after_pass:
            after_pass(p)
        passes.append(p)
        log(f"pass {i}: {dt:.3f} s ({inp.records / dt:.1f} records/s)")
    return passes


def load_pins() -> dict:
    with open(os.path.join(HERE, "pins.json")) as fh:
        return json.load(fh)


def check_passes(wl, spark, inp, passes) -> dict:
    """Check every timed pass's output.  A record fails when its output
    row is missing, duplicated or different from the expected output, or
    when it belongs to a failed task (a pass's failed-task share of its
    records).  The first pass is checked in full; a later pass whose
    sorted output table equals the first's shares its result, any other
    is checked in full.  A pinned (workload, seed) must match its pin."""
    from collect import failed_tasks
    sc = spark.sparkContext
    attempted = inp.records * len(passes)
    failed = degraded = 0
    ref = ref_table = None
    for p in passes:
        table = wl.output_table(p["out"])
        if ref_table is not None and table.equals(ref_table):
            res = ref
        else:
            res = wl.check(inp, table)
            if ref is None:
                ref, ref_table = res, table
        failed += len(res["failed"])
        degraded += res["degraded"]
        ft, tasks = failed_tasks(sc, p["group"])
        if ft:
            failed += -(-inp.records * ft // max(tasks, 1))
    pinned = load_pins().get(wl.name, {}).get(str(inp.seed))
    if pinned is not None and pinned != ref["digest"]:
        failed = attempted
    failed = min(failed, attempted)
    return {"attempted": attempted, "failed": failed,
            "error_rate": failed / attempted,
            "degraded_rate": degraded / attempted,
            "digest": ref["digest"], "pinned": pinned is not None}


# --- the timed run ------------------------------------------------------------

def timed_run(wl, inp, cores, run_dir, seconds) -> tuple[dict, dict]:
    from collect import WorkerMemory
    spark, setups, starts = setup(wl, inp, cores, run_dir, SETUPS)
    try:
        with WorkerMemory() as mem:
            passes = closed_loop(wl, spark, inp, run_dir, seconds)
        checks = check_passes(wl, spark, inp, passes)
    finally:
        spark.stop()
    rps = sorted(inp.records / p["s"] for p in passes)
    metrics = {"throughput_rps": statistics.median(rps),
               "setup_s": statistics.median(setups),
               "worker_private_mb": mem.peak_mb}
    detail = {"throughput_rps_samples": rps, "setup_s_samples": setups,
              "session_start_s_samples": starts,
              "worker_memory_samples": mem.samples, **checks}
    return metrics, detail


# --- the traced run -----------------------------------------------------------

def trace_sample(wl, inp) -> list[str]:
    """The first turns in generation order (already seeded-random, and
    for geo_dense the same count of coordinate turns in every seed)."""
    texts = [t for k, t in inp.texts.items() if k not in inp.degraded]
    return texts[:TRACE_SAMPLE[wl.name]]


def layer_trace(wl, inp, run_dir: str) -> tuple[dict, dict]:
    """Driver-side pass over a sample of turns through
    ``pipeline.extract_turn`` with spans around each layer call, between
    two untraced passes over the same turns (the tracing overhead)."""
    from spans import LAYERS, Tracer
    from xponents_spark import gazetteer, pipeline
    from xponents_spark.gazetteer.matcher import set_gazetteer_parquet
    from xponents_spark.textract import extract_main_content

    set_gazetteer_parquet(wl.gazetteer)
    texts = trace_sample(wl, inp)
    feats = pipeline.DEFAULT_FEATURES

    def plain():
        t0 = time.perf_counter()
        for t in texts:
            pipeline.extract_turn(t, feats)
        return time.perf_counter() - t0

    plain()                                   # caches, compiled patterns
    untraced = [plain()]
    tracer = Tracer().install()
    t0 = time.perf_counter()
    try:
        for i, t in enumerate(texts):
            tracer.turn = i
            pipeline.extract_turn(t, feats)
    finally:
        tracer.uninstall()
    traced = time.perf_counter() - t0
    untraced.append(plain())
    tracer.dump(os.path.join(os.path.dirname(run_dir),
                             f"trace-{wl.name}-{inp.seed}.json"))
    s = tracer.summary(len(texts))
    kept = emitted = 0
    for t in texts:
        for m in gazetteer.geocode(extract_main_content(t),
                                   emit_filtered=True):
            emitted += 1
            kept += not m["filtered_out"]

    n = len(texts)
    rg = s["gazetteer.spatial.reverse_geocode"]
    root = s["pipeline.extract_turn"]["us_per_turn"]
    out = {
        "textract.extract_main_content.us_per_turn":
            s["textract.extract_main_content"]["us_per_turn"],
        "gazetteer.geocode.us_per_turn": s["gazetteer.geocode"]["us_per_turn"],
        "gazetteer.geocode.matches": s["gazetteer.geocode"]["returned"] / n,
        "gazetteer.geocode.kept_ratio": kept / max(emitted, 1),
        "gazetteer.spatial.reverse_geocode.us_per_call":
            rg["us_per_turn"] * n / max(rg["calls"], 1),
        "gazetteer.spatial.reverse_geocode.calls": rg["calls"] / n,
        "pipeline.extract_turn.us_per_turn": root,
        "pipeline.assembly_self_us": s["self_us_per_turn"],
        "trace.overhead_pct":
            100.0 * (traced / statistics.mean(untraced) - 1.0),
    }
    for layer in ("extractors.xcoord.extract_coordinates",
                  "extractors.xtemporal.extract_dates",
                  "extractors.poli.extract_poli"):
        fam = layer.rsplit(".", 1)[0]
        out[f"{layer}.us_per_turn"] = s[layer]["us_per_turn"]
        out[f"{fam}.matches"] = s[layer]["kept"] / n
        if fam != "extractors.poli":
            out[f"{fam}.kept_ratio"] = \
                s[layer]["kept"] / max(s[layer]["returned"], 1)
    children = [name for _m, _a, name in LAYERS[1:]]
    share = {name: s[name]["us_per_turn"] / root for name in children}
    share["pipeline.assembly_self"] = s["self_us_per_turn"] / root
    detail = {"trace_turns": n,
              "untraced_us_per_turn": 1e6 * statistics.mean(untraced) / n,
              "layer_share_of_extract_turn": share,
              "layers_plus_self_over_extract_turn": sum(share.values())}
    return out, detail


def index_probe(wl) -> dict:
    import subprocess
    cmd = [sys.executable, os.path.join(HERE, "refdata.py"), "probe"]
    if wl.gazetteer:
        cmd.append(wl.gazetteer)
    out = subprocess.run(cmd, check=True, capture_output=True, text=True,
                         timeout=300)
    probe = json.loads(out.stdout.strip().splitlines()[-1])
    return {f"gazetteer.{k}": v for k, v in probe.items()}


def plan_layers(wl, spark, inp, run_dir) -> dict:
    """plans / sources / pipeline hand-off metrics from extra jobs."""
    from pyspark.sql import functions as F
    from workloads import GEO_BUCKETS, OUT_COLS, partitions
    from xponents_spark.pipeline import extract
    from xponents_spark.plans import run_resumable, salted_repartition
    from xponents_spark.sources import read_transcripts
    sc = spark.sparkContext
    parts = partitions(sc.defaultParallelism)
    scan = read_transcripts(spark, inp.src)
    spread = salted_repartition(scan, parts)
    kw = {"gazetteer_parquet": wl.gazetteer} if wl.gazetteer else {}
    out = {}

    sc.setJobGroup("perfbench-handoff",
                   "perfbench pandas hand-off (features=())")
    out["pipeline.handoff_s"] = median_time(
        lambda: noop(extract(spread, features=()).select(*OUT_COLS)), 2)

    sink = (extract(spread, **kw).select(*OUT_COLS)
            .sortWithinPartitions("conv_id", "turn_idx"))
    pq_dir = os.path.join(run_dir, "sink")
    sc.setJobGroup("perfbench-sink", "perfbench parquet vs noop sink")
    out["plans.write_s"] = median_time(
        lambda: sink.write.mode("overwrite").parquet(pq_dir), 2) \
        - median_time(lambda: noop(sink), 2)

    sc.setJobGroup("perfbench-scan", "perfbench source scan")
    out["sources.scan_s"] = median_time(lambda: noop(scan))
    out["sources.scan_mb"] = sum(
        os.path.getsize(os.path.join(inp.src, f))
        for f in os.listdir(inp.src)) / 1e6

    sc.setJobGroup("perfbench-skew", "perfbench partition rows")
    counts = [r["count"] for r in spread.groupBy(
        F.spark_partition_id().alias("p")).count().collect()]
    out["plans.partition_rows_max_over_mean"] = \
        max(counts) / (sum(counts) / parts)

    manifests = wl.last_manifests
    if manifests is None:
        sc.setJobGroup("perfbench-resumable", "perfbench run_resumable")
        manifests = run_resumable(
            scan, os.path.join(run_dir, "resumable"), buckets=GEO_BUCKETS,
            input_desc=wl.name, verify_input=False, extract_kwargs=kw)
    walls = [m["wall_sec"] for m in manifests]
    out["plans.checkpoints.bucket_s_p50"] = statistics.median(walls)
    out["plans.checkpoints.bucket_jobs"] = len(walls)
    return out


def operator_layers(spark, seed, cores, run_dir, stages):
    """The five corpus operators over the seeded operator corpus: outputs
    collected, checked and digested, then each timed as its own labelled
    job to a noop sink."""
    from workloads import OperatorCorpus, corpus_ops
    sc = spark.sparkContext
    corpus = OperatorCorpus(seed, run_dir, cores)
    sc.setJobGroup("perfbench-op-check", "perfbench operator outputs")
    outs = corpus.outputs(spark)             # also warms each operator
    failed, digests = corpus.check(outs)
    pinned = load_pins().get("operators", {}).get(str(seed))
    if pinned is not None and pinned != digests:
        failed = set(corpus.docs)
    df = spark.read.parquet(corpus.src)
    out = {}
    for name, op in corpus_ops():
        group = f"perfbench-op-{name}"
        sc.setJobGroup(group, f"perfbench operator {name}")
        out[f"{name}_s"] = timed(noop, op(df))[0]
        if name.rsplit(".", 1)[1] in _DEDUP:
            st = stages.group(group)
            out[f"{name}.shuffle_write_mb"] = st["shuffle_write_mb"]
            out[f"{name}.task_s_p90"] = st["task_s_p90"]
    out["operators.dedup.planted_pair_recall"] = corpus.recall(outs)
    out["operators.dedup.duplicated_spans_rows"] = \
        len(outs["operators.dedup.duplicated_spans"])
    detail = {"operator_corpus": corpus.shape, "operator_digests": digests,
              "operator_pinned": pinned is not None,
              "operator_docs": len(corpus.docs),
              "operator_failed_docs": len(failed)}
    return out, detail


def jvm_gc_s(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime()
               for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def traced_run(wl, inp, cores, run_dir, seconds) -> tuple[dict, dict]:
    from collect import SparkStages
    metrics = index_probe(wl)
    layers, detail = layer_trace(wl, inp, run_dir)
    metrics.update(layers)
    log("layer trace done")
    spark = setup(wl, inp, cores, run_dir, 1)[0]
    try:
        stages = SparkStages(spark.sparkContext)
        per_pass = []
        gc0 = jvm_gc_s(spark)
        passes = closed_loop(
            wl, spark, inp, run_dir, seconds,
            after_pass=lambda p: per_pass.append(stages.group(p["group"])))
        # JVM-wide (driver = executor in local mode) GC seconds per pass;
        # the per-task stage sum misses collections outside task threads
        metrics["spark.jvm_gc_s"] = (jvm_gc_s(spark) - gc0) / len(passes)
        for key in ("executor_run_s", "executor_cpu_s", "tasks",
                    "task_s_p50", "task_s_p90", "failed_tasks"):
            metrics[f"spark.{key}"] = statistics.median(
                s[key] for s in per_pass)
        for key in ("shuffle_write_mb", "shuffle_read_mb"):
            metrics[f"plans.{key}"] = statistics.median(
                s[key] for s in per_pass)
        checks = check_passes(wl, spark, inp, passes)
        rps = statistics.median(inp.records / p["s"] for p in passes)
        wl.last_manifests = passes[-1]["info"].get("manifests")
        metrics.update(plan_layers(wl, spark, inp, run_dir))
        log("plan layers done")
        ops, op_detail = operator_layers(spark, inp.seed, cores, run_dir,
                                         stages)
        metrics.update(ops)
        log("operator layers done")
    finally:
        spark.stop()
    # weak scaling: local[1] on 1/cores of the input vs local[cores] on all
    one = start_session(1)
    try:
        wl.run_pass(one, inp.reduced, os.path.join(run_dir, "scale-warm"))
        secs = [timed(wl.run_pass, one, inp.reduced,
                      os.path.join(run_dir, f"scale{i}"))[0]
                for i in range(2)]
    finally:
        one.stop()
    rps1 = inp.reduced_records / statistics.median(secs)
    metrics["scaling_eff"] = rps / (cores * rps1)
    metrics["error_rate"] = checks["error_rate"]
    metrics["degraded_rate"] = checks["degraded_rate"]
    checks["attempted"] += op_detail["operator_docs"]
    checks["failed"] += op_detail["operator_failed_docs"]
    detail.update(checks, **op_detail, traced_pass_rps=rps, local1_rps=rps1)
    return metrics, detail


# --- entry --------------------------------------------------------------------

def stop_jvm() -> None:
    """End the JVM the sessions ran in and wait for it: it exits when its
    stdin closes (pyspark's gateway contract)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its session and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "xponents_spark")):
        print("perfbench: xponents_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(os.getcwd(), ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    environment(run_dir)
    import workloads
    wl = workloads.make(args.workload, os.path.join(work, "cache"))
    cores = len(os.sched_getaffinity(0))
    try:
        inp = wl.prepare(args.seed, os.path.join(run_dir, "data"), cores)
        log(f"{args.workload} seed {args.seed}: {inp.shape}")
        run = traced_run if args.trace else timed_run
        metrics, detail = run(wl, inp, cores, run_dir, args.seconds)
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    names = PER_LAYER if args.trace else END_TO_END
    detail.update(workload=args.workload, seed=args.seed, cores=cores,
                  records=inp.records, input_shape=inp.shape)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": detail["failed"] == 0,
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": {n: {"value": float(metrics[n]), "unit": u}
                    for n, u in names}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
