"""Benchmark of the spark-fulltext engine: one workload, one process.

    python3 perfbench/run.py --workload {serve,batch} --seed N \\
        --seconds S --trace {0,1}

Set-up (timed as ``setup_s``, with the host's stolen CPU share taken out,
as for every wall metric): generate the seeded corpus and write it to
Parquet, build the oracle, start Spark on every core of the host, run one
full-size warm-up build, and warm the engine. Then the workload runs for
``--seconds`` in a closed loop, and its outputs are checked against the
oracle. The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer metrics of a traced run). See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

from tracing import cpu_ticks, steal_share  # noqa: E402

TICKS_START = cpu_ticks()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: conversations in the generated corpus (about 25,000 turns)
N_CONVS = 6000
#: driver heap: enough for this corpus on any host with a few GB, and
#: small enough that the JVM fills it, which keeps peak RSS steady
DRIVER_HEAP = "1g"


def fit_host(tmp: str) -> int:
    """Point Spark at this host and this run's temp dir; return the width."""
    nproc = len(os.sched_getaffinity(0))
    for sub in ("local", "py", "jvm"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    env["TMPDIR"] = os.path.join(tmp, "py")
    # the JVM's temp files go to the run's dir; -UsePerfData keeps it from
    # writing its perf-counter file to /tmp, which ignores java.io.tmpdir
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm')}") if p)
    return nproc


def write_corpus(seed: int, path: str):
    """Seeded transcripts corpus written to Parquet; returns the frame."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from searchengine_spark.sources.synth import transcripts_pdf

    pdf = transcripts_pdf(N_CONVS, seed=seed)
    os.makedirs(path)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(path, "part-0.parquet"), coerce_timestamps="us")
    return pdf


def declared_units() -> dict[str, str]:
    """The unit of every metric, as BENCHMARK.json declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def stop_spark(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every process below it."""
    from pyspark import SparkContext

    from tracing import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, 9)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import searchengine_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not here ({e})", file=sys.stderr)
        return 2

    from measure import median
    from oracle import build_oracle
    from tracing import Tracer, jvm_pid, live_heap_mb, peak_rss_mb
    from workloads import WORKLOADS, Bench, build_once, check_built, dir_bytes, layer_metrics

    units = declared_units()
    tmp = os.path.join(ROOT, ".perfbench-tmp", f"run-{os.getpid()}")
    spark = None
    phases: list[tuple[str, float]] = []

    def phase(name: str) -> None:
        phases.append((name, time.perf_counter()))

    try:
        nproc = fit_host(tmp)

        def corpus_and_oracle():
            pdf = write_corpus(args.seed, os.path.join(tmp, "corpus"))
            return build_oracle(pdf["conv_id"].tolist(), pdf["turn_idx"].tolist(),
                                pdf["text"].tolist())

        from searchengine_spark.session import get_spark

        # the corpus and the oracle are made while the JVM starts (Spark
        # must start on the main thread: it installs a signal handler)
        with ThreadPoolExecutor(1) as pool:
            made = pool.submit(corpus_and_oracle)
            spark = get_spark("perfbench", master=f"local[{nproc}]",
                              shuffle_partitions=nproc,
                              extra_conf={"spark.ui.showConsoleProgress": "false"})
            oracle = made.result()
        bench = Bench(spark=spark, oracle=oracle,
                      corpus=spark.read.parquet(os.path.join(tmp, "corpus")),
                      tracer=Tracer() if args.trace else None,
                      jvm_pid=jvm_pid(spark))
        wl = WORKLOADS[args.workload](bench, args.seed)
        phase("spark, corpus and oracle")
        # one shard per core, so that a query fans out to every core (the
        # program's default, 65,536 docs a shard, would give one shard)
        index_dir = os.path.join(tmp, "index")
        built = build_once(bench, index_dir, n_shards=nproc)
        phase("warm-up build")
        wl.warm(index_dir)
        phase("engine warm-up")
        # with the host's stolen share taken out, as for the window's walls
        setup_steal = steal_share(TICKS_START, cpu_ticks())
        setup_s = (time.perf_counter() - T_START) * (1 - setup_steal)

        window = wl.run(args.seconds)
        rss = peak_rss_mb(bench.jvm_pid)
        heap = live_heap_mb(spark)
        phase("window")

        setup_problem = check_built(bench, built)
        bytes_ratio = dir_bytes(index_dir) / oracle.text_bytes
        wl.check()
        phase("checks")

        raw_p50_ms = median(window.walls) * 1e3
        print(f"perfbench {args.workload}: {len(window.walls)} timed calls, raw wall "
              f"p50 {raw_p50_ms:.1f} ms; steal share median per call "
              f"{median(window.steal):.3f}, over the window {window.window_steal:.3f}, "
              f"over the set-up {setup_steal:.3f}",
              file=sys.stderr)
        print("perfbench call walls (s) / steal share: " + " ".join(
            f"{w:.3f}/{f:.2f}" for w, f in zip(window.walls, window.steal)),
              file=sys.stderr)
        for reason in bench.tally.reasons[:5]:
            print(f"perfbench FAILED {reason}", file=sys.stderr)
        if setup_problem:
            print(f"perfbench the index differs from the oracle: {setup_problem}",
                  file=sys.stderr)

        if args.trace:
            metrics = layer_metrics(bench.tracer, wl.op)
            metrics["bench.raw_call_p50_ms"] = raw_p50_ms
            metrics["bench.steal_share"] = median(window.steal)
            bench.tracer.write(os.path.join(
                ROOT, ".perfbench-out", f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            metrics = {"setup_s": setup_s, "peak_rss_mb": rss, "heap_live_mb": heap,
                       "index_bytes_per_text_byte": bytes_ratio, **window.metrics()}
        result = {
            "correct": setup_problem is None,
            "attempted": bench.tally.attempted,
            "failed": bench.tally.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    phase("teardown")
    prev = T_START
    for name, t in phases:
        print(f"perfbench phase {name}: {t - prev:.2f} s", file=sys.stderr)
        prev = t
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
